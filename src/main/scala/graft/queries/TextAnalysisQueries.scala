package graft.queries

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dedup.Dedup
import graft.text.{Hashing, TextFunctions}

/** Text wave, analysis half (q153-q196 range): BM25/TF-IDF postings,
  * PPJoin, decontamination, WARC/robots/NFC, packing - split out of
  * the former TextQueries mega-file (VERDICT r11 #6); query names,
  * bodies, and oracles are unchanged.
  */
object TextAnalysisQueries {
  import ParityQueries.{Q, SortedOutOps}
  import TextShared._

  // ------------- blocked fuzzy-match entity resolution (q153)
  /** The classic entity-resolution join the reference's name-match
    * (J2) is the exact-match special case of: candidate mentions
    * (first-3-token "names") are BLOCKED on their first token, and
    * only within-block pairs pay the edit-distance comparison —
    * levenshtein ≤ 3 matches survive. Blocking is what makes fuzzy
    * matching possible at all at corpus scale: the quadratic
    * comparison is confined to block-local pairs (bounded by the
    * hottest block, the same skew surface as an LSH bucket — cap or
    * salt a pathological block exactly like the banded join does).
    * Levenshtein is integer-exact cross-engine. */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val m = docs0(s, d).where(size(tk) >= 3)
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"),
        array_join(slice(col("tk"), 1, 3), " ").as("name"),
        element_at(col("tk"), 1).as("blk"))
      .persistT // both sides of the block-local self-join
    val a = m.select(col("blk"), col("doc_id").as("doc_a"), col("name").as("name_a"))
    val b = m.select(col("blk"), col("doc_id").as("doc_b"), col("name").as("name_b"))
    a.join(b, Seq("blk"))
      .where(col("doc_a") < col("doc_b"))
      // thresholded levenshtein: the DP early-exits once a row's min
      // cost exceeds 3 and returns -1 — O(k·n) per comparison instead
      // of O(n·m), the difference that matters when block-local pairs
      // number in the billions; equal to the full distance whenever
      // that distance is ≤ 3, so the oracle is unchanged
      .select(col("doc_a"), col("doc_b"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b"), 3).as("dist"))
      .where(col("dist") >= 0)
      .sortedOut("doc_a", "doc_b")
  }

  private val q153Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    array_to_string(tk[1:3], ' ') AS name,
      |    tk[1] AS blk
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents)
      |  WHERE len(tk) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  a.name AS name_a, b.name AS name_b,
      |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
      |FROM m a JOIN m b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.name, b.name) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------- MinHash estimator calibration (q154)
  /** Measure, don't guess, what the 32-perm estimate is worth: for
    * every LSH candidate pair, the EXACT token-set Jaccard next to the
    * signature-agreement estimate — mean bias, mean absolute error and
    * the overestimate count. This is the number that justifies (or
    * indicts) the est-threshold gates every dedup query in the family
    * uses; q150 plans the banding, this calibrates the estimator
    * itself.
    *
    * Scale shape: exact Jaccard is computed ONLY for the candidate
    * pairs (never all pairs) — the token-overlap join fans each pair
    * out by |toks(a)| and combines map-side; the final report
    * accumulates DECIMAL(38,0) sums of 9-decimal fixed-point
    * integers — exact, order-independent, map-side combinable, and
    * bounded at any corpus size (the r7 formulation collected the
    * ENTIRE scored-pair frame into one sort_array(collect_list) row
    * for bit-portable fp means: an executor OOM once the candidate
    * frame outgrows one task — VERDICT r7 "what's wrong" #2).
    *
    * Fixed-point contract: every per-pair quantity here is a RATIO of
    * small integers (est = m/32 with m the agreement count; exact =
    * i/u with u = |a∪b|), so e9-quantities floor(x·1e9) are computed
    * in PURE INTEGER arithmetic (no fp rounding anywhere before the
    * final report division) and both engines produce identical
    * integers; the means are off the true rational means by < 1e-9 —
    * the documented price of a report that no longer materializes the
    * pair frame in one row. ScaleOpsSpec pins old-vs-new agreement at
    * fixture scale. */
  private def q154(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(Dedup.minhashSignatures(docs0(s, d), k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.7)
      .persistT // token-overlap join + two size joins + the fold
    // Per-doc DISTINCT token sets as per-row arrays (r16, the q196
    // argument): the exploded overlap join carried |pairs|×|shared
    // tokens| rows through two exchanges and a pair-keyed aggregate;
    // attaching the ≤|doc| arrays to each pair and counting
    // size(array_intersect(...)) per row computes the identical i/na/nb
    // in ONE narrow stage. array_distinct is a per-row transform — the
    // (doc_id, tok) distinct exchange and the sizes aggregate are gone.
    // The i >= 1 filter reproduces the old inner join to the overlap
    // aggregate (a candidate with zero shared tokens dropped there).
    val tkSets = docs0(s, d).select(col("doc_id"),
      array_distinct(TextFunctions.tokens(col("text"))).as("tks"))
    // m = 32·est is EXACT (est is an agreement count over 32, a small
    // dyadic rational, so the double round-trips); u = |a ∪ b|. All
    // three e9 fixed-point columns are integer div/abs over longs —
    // m·u ≤ 32·|vocab|² and i·1e9 ≤ |doc|·1e9 both fit comfortably.
    val scored = pairs
      .join(tkSets.select(col("doc_id").as("doc_a"), col("tks").as("ta")), Seq("doc_a"))
      .join(tkSets.select(col("doc_id").as("doc_b"), col("tks").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        size(array_intersect(col("ta"), col("tb"))).cast(LongType).as("i"),
        size(col("ta")).cast(LongType).as("na"),
        size(col("tb")).cast(LongType).as("nb"))
      .where(col("i") >= 1)
      .select(col("doc_a"), col("doc_b"), col("i"),
        (col("est_jaccard") * 32).cast(LongType).as("m"),
        (col("na") + col("nb") - col("i")).as("u"),
        (col("i").cast(DoubleType) /
          (col("na") + col("nb") - col("i")).cast(DoubleType)).as("exact"),
        col("est_jaccard"))
    val e9 = lit(1000000000L)
    scored
      .select(col("est_jaccard"), col("exact"),
        expr("(i * 1000000000) div u").as("exact_e9"),
        expr("(m * 1000000000) div 32").as("est_e9"),
        (abs(col("m") * col("u") - col("i") * 32) * e9).as("d_num"),
        (col("u") * 32).as("d_den"))
      .select(col("est_jaccard"), col("exact"),
        col("exact_e9").cast(DecimalType(38, 0)).as("exact_e9"),
        col("est_e9").cast(DecimalType(38, 0)).as("est_e9"),
        expr("(d_num div d_den)").cast(DecimalType(38, 0)).as("ae_e9"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("est_jaccard") > col("exact"), 1L).otherwise(0L)).as("n_over"),
        sum(col("exact_e9")).as("se"), sum(col("est_e9")).as("sm"),
        sum(col("ae_e9")).as("sa"))
      .select(col("n_pairs"), col("n_over"),
        (col("se").cast(DoubleType) /
          (col("n_pairs").cast(DoubleType) * 1e9)).as("mean_exact"),
        (col("sm").cast(DoubleType) /
          (col("n_pairs").cast(DoubleType) * 1e9)).as("mean_est"),
        (col("sa").cast(DoubleType) /
          (col("n_pairs").cast(DoubleType) * 1e9)).as("mae"))
  }

  private val q154Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |pr AS (SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.7),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
       |it AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
       |       FROM pr p
       |       JOIN toks ta ON ta.doc_id = p.doc_a
       |       JOIN toks tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
       |       GROUP BY 1, 2),
       |scored AS (SELECT p.doc_a, p.doc_b, p.est_jaccard,
       |    CAST(p.est_jaccard * 32 AS BIGINT) AS m, i,
       |    sa.n + sb.n - i AS u,
       |    CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS exact
       |  FROM pr p
       |  JOIN it ON it.doc_a = p.doc_a AND it.doc_b = p.doc_b
       |  JOIN sz sa ON sa.doc_id = p.doc_a
       |  JOIN sz sb ON sb.doc_id = p.doc_b)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN est_jaccard > exact THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
       |  CAST(sum((i * 1000000000) // u) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS mean_exact,
       |  CAST(sum((m * 1000000000) // 32) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS mean_est,
       |  CAST(sum((abs(m * u - i * 32) * 1000000000) // (u * 32)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS mae
       |FROM scored""".stripMargin

  // ------------- preference-pair construction (q157)
  /** DPO/RLHF data prep: within each (lang, source) group, pair the
    * highest-scoring document (chosen) with the lowest (rejected) under
    * q112's quality margin, reporting the score gap — the
    * pair-the-extremes recipe preference-training sets are built with
    * when no human labels exist. Groups too small to pair drop out.
    *
    * Scale shape: ONE map-side-combinable aggregate — chosen/rejected
    * travel as max/min of a (score, doc_id) struct, so nothing but two
    * structs per group crosses the shuffle (no window, no sort).
    * Struct ordering gives the deterministic tie-break (score, then
    * doc_id) in both engines. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    val scored = docs0(s, d).select(col("lang"), col("source"), col("doc_id"),
      graft.ops.LinearModel.margin(q112W, Seq(
        nTok.cast(DoubleType) / lit(256.0),
        TextFunctions.nonSpaceChars(col("text")) / nTok,
        stopHits / nTok)).as("score"))
    scored.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
           max(struct(col("score"), col("doc_id"))).as("hi"),
           min(struct(col("score"), col("doc_id"))).as("lo"))
      .where(col("n") >= 2)
      .select(col("lang"), col("source"), col("n"),
        col("hi.doc_id").as("chosen_id"), col("lo.doc_id").as("rejected_id"),
        (col("hi.score") - col("lo.score")).as("score_gap"))
      .sortedOut("lang", "source")
  }

  private val q157Sql =
    """WITH s AS (
      |  SELECT lang, source, doc_id,
      |    -1.25 + 2.0 * (CAST(len(toks) AS DOUBLE) / 256.0)
      |          + 0.25 * (length(regexp_replace(text, '\s', '', 'g')) / len(toks))
      |          + -3.5 * (len(list_filter(toks,
      |                      t -> t IN ('the','a','of','and','to','in','is'))) / len(toks))
      |      AS score
      |  FROM (SELECT *, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |        FROM documents)),
      |hi AS (SELECT lang, source, doc_id AS chosen_id, score AS hi_score FROM (
      |         SELECT *, row_number() OVER (PARTITION BY lang, source
      |                     ORDER BY score DESC, doc_id DESC) AS rn FROM s)
      |       WHERE rn = 1),
      |lo AS (SELECT lang, source, doc_id AS rejected_id, score AS lo_score FROM (
      |         SELECT *, row_number() OVER (PARTITION BY lang, source
      |                     ORDER BY score ASC, doc_id ASC) AS rn FROM s)
      |       WHERE rn = 1),
      |n AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2)
      |SELECT n.lang, n.source, n.n, chosen_id, rejected_id,
      |       hi_score - lo_score AS score_gap
      |FROM n
      |JOIN hi ON hi.lang = n.lang AND hi.source = n.source
      |JOIN lo ON lo.lang = n.lang AND lo.source = n.source
      |WHERE n.n >= 2
      |ORDER BY n.lang, n.source""".stripMargin

  // ------------- drop-reason audit (q158)
  /** The curation pipeline's accountability report: every document gets
    * the FIRST gate that would drop it — too_short (q25's length
    * floor), repetitive (q75's Gopher rules), stopword_heavy (q25's
    * ratio cut), low_score (q112's classifier margin) — or `kept`, and
    * the output is the per-reason census. This is the table a curation
    * run publishes so a corpus consumer can see where the tokens went;
    * the fixed gate ORDER is the point (each doc counted once, under
    * the first reason — re-ordering gates changes the attribution, not
    * the kept set).
    *
    * Scale shape: one pass computes every per-doc signal (the
    * repetition stats join is doc-keyed like q75), the census combines
    * map-side to ≤5 rows, total rides a 1-row broadcast. */
  private def q158(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    val scored = docs0(s, d).select(col("doc_id"), nTok.as("n_tok"),
      (stopHits / nTok).as("stop_ratio"),
      graft.ops.LinearModel.margin(q112W, Seq(
        nTok.cast(DoubleType) / lit(256.0),
        TextFunctions.nonSpaceChars(col("text")) / nTok,
        stopHits / nTok)).as("score"))
    val rep = graft.text.QualityOps.repetitionStats(docs0(s, d))
      .select(col("doc_id"), col("is_repetitive"))
    val reason = when(col("n_tok") < 5, "too_short")
      .when(coalesce(col("is_repetitive"), lit(false)), "repetitive")
      .when(col("stop_ratio") > 0.5, "stopword_heavy")
      .when(col("score") < 0.0, "low_score")
      .otherwise("kept")
    val census = scored.join(rep, Seq("doc_id"), "left")
      .select(reason.as("reason"))
      .groupBy("reason").agg(count(lit(1)).as("n_docs"))
    census.crossJoin(broadcast(census.agg(sum(col("n_docs")).as("nd"))))
      .select(col("reason"), col("n_docs"),
        (col("n_docs").cast(DoubleType) / col("nd").cast(DoubleType)).as("share"))
      .sortedOut("reason")
  }

  private val q158Sql =
    """WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |tok AS (SELECT doc_id, unnest(tk) AS g FROM t),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
      |       FROM t WHERE len(tk) >= 2),
      |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
      |tp AS (SELECT doc_id, max(c) AS top_tok, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS nd_tok FROM tc GROUP BY 1),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |bp AS (SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1),
      |sig AS (
      |  SELECT t.doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_tok,
      |    len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) / len(tk) AS stop_ratio,
      |    -1.25 + 2.0 * (CAST(len(tk) AS DOUBLE) / 256.0)
      |          + 0.25 * (length(regexp_replace(text, '\s', '', 'g')) / len(tk))
      |          + -3.5 * (len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) / len(tk)) AS score,
      |    coalesce(tp.top_tok / tp.n_tok > 0.12
      |          OR 1 - tp.nd_tok / tp.n_tok > 0.6
      |          OR bp.top_bg / bp.n_bg > 0.06, false) AS is_repetitive
      |  FROM t LEFT JOIN tp ON tp.doc_id = t.doc_id
      |         LEFT JOIN bp ON bp.doc_id = t.doc_id),
      |census AS (
      |  SELECT CASE WHEN n_tok < 5 THEN 'too_short'
      |              WHEN is_repetitive THEN 'repetitive'
      |              WHEN stop_ratio > 0.5 THEN 'stopword_heavy'
      |              WHEN score < 0.0 THEN 'low_score'
      |              ELSE 'kept' END AS reason,
      |         CAST(count(*) AS BIGINT) AS n_docs
      |  FROM sig GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM census)
      |SELECT reason, n_docs, CAST(n_docs AS DOUBLE) / CAST(nd AS DOUBLE) AS share
      |FROM census CROSS JOIN tot ORDER BY reason""".stripMargin

  // ------------- vocabulary growth / Heaps-law curve (q159)
  /** How fast does the corpus stop teaching new words: for doc-count
    * prefixes (in doc_id order), total token volume vs distinct
    * vocabulary seen — the Heaps-law curve that says when additional
    * crawl volume stops buying lexical coverage (and sizes the
    * tokenizer's vocab budget, q79/q104's knob).
    *
    * Scale shape: each token type reduces to its FIRST doc
    * (min(doc_id) — one map-side-combinable pass over exploded
    * tokens); the curve is a ≤|prefix-list| literal explode over that
    * |vocab|-sized frame plus one over the per-doc counts. Nothing
    * quadratic, no window over the corpus. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val prefixes = Seq(50L, 100L, 200L, 400L, 800L, 1600L, 3200L, 6400L)
    val pArr = array(prefixes.map(lit): _*)
    val first = docs0(s, d)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(min(col("doc_id")).as("fd"))
    val vocab = first.select(col("fd"), explode(pArr).as("prefix_docs"))
      .where(col("fd") < col("prefix_docs"))
      .groupBy("prefix_docs").agg(count(lit(1)).as("vocab"))
    val seen = docs0(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
      .select(col("doc_id"), col("n_tok"), explode(pArr).as("prefix_docs"))
      .where(col("doc_id") < col("prefix_docs"))
      .groupBy("prefix_docs").agg(sum(col("n_tok")).as("tokens_seen"))
    val w = Window.orderBy(col("prefix_docs"))
    // limit(16) cannot truncate (8 literal prefixes by construction);
    // it makes the lag window's child statically bounded for planLint
    seen.join(vocab, Seq("prefix_docs")).limit(16)
      .withColumn("new_vocab", col("vocab") - coalesce(lag(col("vocab"), 1).over(w), lit(0L)))
      .sortedOut("prefix_docs")
  }

  private val q159Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |f AS (SELECT tok, min(doc_id) AS fd FROM (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY tok),
      |p AS (SELECT unnest([50, 100, 200, 400, 800, 1600, 3200, 6400]) AS prefix_docs),
      |v AS (SELECT CAST(prefix_docs AS BIGINT) AS prefix_docs, CAST(count(*) AS BIGINT) AS vocab
      |      FROM f CROSS JOIN p WHERE fd < prefix_docs GROUP BY 1),
      |sn AS (SELECT CAST(prefix_docs AS BIGINT) AS prefix_docs, CAST(sum(len(tk)) AS BIGINT) AS tokens_seen
      |       FROM t CROSS JOIN p WHERE doc_id < prefix_docs GROUP BY 1)
      |SELECT sn.prefix_docs, tokens_seen, vocab,
      |  CAST(vocab - coalesce(lag(vocab) OVER (ORDER BY sn.prefix_docs), 0) AS BIGINT) AS new_vocab
      |FROM sn JOIN v ON v.prefix_docs = sn.prefix_docs
      |ORDER BY sn.prefix_docs""".stripMargin

  // ------------- quality-aware dedup survivor (q160)
  /** Near-dup dedup that keeps the BEST copy, not the first: q48's
    * clusters re-resolved with q112's quality margin choosing each
    * cluster's survivor (max (score, doc_id) struct — one map-side-
    * combinable aggregate, no window), reported AGAINST the min-id
    * policy: how many clusters changed survivor and what the kept
    * token budget is under each. Re-hosted copies usually differ in
    * boilerplate wrap, so "first crawled" and "best quality" genuinely
    * diverge — this is the table that justifies the policy switch.
    *
    * Scale shape: everything after cluster resolution is doc-keyed
    * joins plus a cluster-keyed aggregate; survivors travel as one
    * struct per cluster. */
  private def q160(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(docs, k = 32), bands = 4, rowsPerBand = 8, minEst = 0.9)
    val clusters = Dedup.nearDupClusters(pairs)
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    val scored = docs.select(col("doc_id"), nTok.cast(LongType).as("n_tok"),
      graft.ops.LinearModel.margin(q112W, Seq(
        nTok.cast(DoubleType) / lit(256.0),
        TextFunctions.nonSpaceChars(col("text")) / nTok,
        stopHits / nTok)).as("score"))
    val memb = scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val per = memb.groupBy("cluster")
      .agg(count(lit(1)).as("n"),
           max(struct(col("score"), col("doc_id"), col("n_tok"))).as("hi"),
           sum(when(col("doc_id") === col("cluster"), col("n_tok")).otherwise(0L)).as("minid_tok"))
    per.agg(
        count(lit(1)).as("n_kept"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_multi"),
        sum(when(col("n") >= 2 && col("hi.doc_id") =!= col("cluster"), 1L).otherwise(0L)).as("n_upgraded"),
        sum(col("hi.n_tok")).as("kept_tokens_best"),
        sum(col("minid_tok")).as("kept_tokens_minid"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
  }

  private val q160Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.9),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |${componentLabelCtes()}
       |, sc AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
       |    -1.25 + 2.0 * (CAST(len(tk) AS DOUBLE) / 256.0)
       |          + 0.25 * (length(regexp_replace(text, '\\s', '', 'g')) / len(tk))
       |          + -3.5 * (len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) / len(tk)) AS score
       |  FROM (SELECT *, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents)),
       |memb AS (
       |  SELECT sc.doc_id, sc.n_tok, sc.score, coalesce(l.cluster, sc.doc_id) AS cluster
       |  FROM sc LEFT JOIN labels l ON l.doc_id = sc.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id DESC) AS rn
       |  FROM memb),
       |per AS (
       |  SELECT cluster,
       |    CAST(count(*) AS BIGINT) AS n,
       |    max(CASE WHEN rn = 1 THEN doc_id END) AS best_id,
       |    max(CASE WHEN rn = 1 THEN n_tok END) AS best_tok,
       |    CAST(sum(CASE WHEN doc_id = cluster THEN n_tok ELSE 0 END) AS BIGINT) AS minid_tok
       |  FROM ranked GROUP BY cluster)
       |SELECT
       |  CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
       |  CAST(sum(CASE WHEN n >= 2 AND best_id <> cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_upgraded,
       |  CAST(sum(best_tok) AS BIGINT) AS kept_tokens_best,
       |  CAST(sum(minid_tok) AS BIGINT) AS kept_tokens_minid,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total
       |FROM per""".stripMargin

  // ------------- exact classifier ROC-AUC (q161)
  /** The threshold-free verdict on q112's quality margin: exact
    * Mann-Whitney AUC against an INDEPENDENT ground truth (q75's
    * repetitiveness flag, inverted — "clean" is positive; q25's label
    * is degenerate on this fixture) — AUC =
    * (Σ midrank(positives) − n₊(n₊+1)/2) / (n₊·n₋), with midranks for
    * tied scores, NULL-guarded for one-class inputs. Complements
    * q139's calibration bins: calibration says where to put the cut,
    * AUC says whether the score ranks at all.
    *
    * Scale + exactness: the global ranking rides
    * [[graft.ops.RelationalOps.globalRowNumber]] (range partition +
    * prefix offsets — no single-partition window); midranks are
    * (min+max)/2 per tied score. Every term is a dyadic rational
    * (halves) far below 2^52, so the double sums are EXACT and
    * order-independent — no sorted fold needed anywhere. */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    // ground truth = NOT repetitive (q75's flag) — q25's quality label
    // is degenerate on this fixture (every doc passes), and a
    // one-class AUC is undefined
    val rep = graft.text.QualityOps.repetitionStats(docs0(s, d))
      .select(col("doc_id"), col("is_repetitive"))
    val scored = docs0(s, d).select(col("doc_id"),
        graft.ops.LinearModel.margin(q112W, Seq(
          nTok.cast(DoubleType) / lit(256.0),
          TextFunctions.nonSpaceChars(col("text")) / nTok,
          stopHits / nTok)).as("score"))
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"),
        (!coalesce(col("is_repetitive"), lit(false))).as("label"))
      // persist (r17): the rank's range partitioner SAMPLES its child
      // before shuffling it — unpersisted, the whole scoring subtree
      // (repetitionStats is the bulk of this query) executed twice
      .persistT
    val ranked = graft.ops.RelationalOps.globalRowNumber(
      scored, Seq(col("score").asc, col("doc_id").asc), "rn")
    val mid = ranked.groupBy("score")
      .agg(((min(col("rn")) + max(col("rn"))).cast(DoubleType) / 2.0).as("midrank"))
    ranked.join(mid, Seq("score"))
      .agg(sum(when(col("label"), col("midrank")).otherwise(0.0)).as("prs"),
           sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
           sum(when(!col("label"), 1L).otherwise(0L)).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("prs") - col("n_pos").cast(DoubleType) * (col("n_pos") + 1).cast(DoubleType) / 2.0) /
            (col("n_pos").cast(DoubleType) * col("n_neg").cast(DoubleType))).as("auc"))
  }

  private val q161Sql =
    """WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |tok AS (SELECT doc_id, unnest(tk) AS g FROM t),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
      |       FROM t WHERE len(tk) >= 2),
      |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
      |tp AS (SELECT doc_id, max(c) AS top_tok, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS nd_tok FROM tc GROUP BY 1),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |bp AS (SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1),
      |s AS (
      |  SELECT t.doc_id,
      |    -1.25 + 2.0 * (CAST(len(tk) AS DOUBLE) / 256.0)
      |          + 0.25 * (length(regexp_replace(text, '\s', '', 'g')) / len(tk))
      |          + -3.5 * (len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) / len(tk)) AS score,
      |    NOT coalesce(tp.top_tok / tp.n_tok > 0.12
      |          OR 1 - tp.nd_tok / tp.n_tok > 0.6
      |          OR bp.top_bg / bp.n_bg > 0.06, false) AS label
      |  FROM t LEFT JOIN tp ON tp.doc_id = t.doc_id
      |         LEFT JOIN bp ON bp.doc_id = t.doc_id),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS rn FROM s),
      |m AS (SELECT score, CAST(min(rn) + max(rn) AS DOUBLE) / 2.0 AS midrank FROM r GROUP BY score),
      |j AS (SELECT r.label, m.midrank FROM r JOIN m ON m.score = r.score),
      |a AS (SELECT
      |    sum(CASE WHEN label THEN midrank ELSE 0.0 END) AS prs,
      |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      |  FROM j)
      |SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    (prs - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)
      |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
      |FROM a""".stripMargin

  // ------------- corpus dataset card (q163)
  /** The one-row datasheet a corpus release publishes: volume (docs,
    * tokens, chars), spread (languages, sources), hygiene (exact-dup
    * docs, repetitive fraction) and the mean document length — every
    * number a dataset card's "composition" section asks for, computed
    * in one pass plus the doc-keyed repetition join. The language list
    * itself ships sorted-joined (bounded by |langs|). */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val base = docs0(s, d).select(size(tk).cast(LongType).as("n_tok"),
        col("n_chars"), col("lang"), col("source"), md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("n_tokens"),
           sum(col("n_chars")).as("n_chars"),
           countDistinct(col("lang")).as("n_langs"),
           countDistinct(col("source")).as("n_sources"),
           countDistinct(col("h")).as("n_distinct_texts"),
           array_join(sort_array(collect_set(col("lang"))), ",").as("langs"))
    val rep = graft.text.QualityOps.repetitionStats(docs0(s, d))
      .agg(sum(when(col("is_repetitive"), 1L).otherwise(0L)).as("n_rep"))
    base.crossJoin(broadcast(rep))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_sources"), col("langs"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dup_docs"),
        (col("n_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType)).as("mean_doc_tokens"),
        (col("n_rep").cast(DoubleType) / col("n_docs").cast(DoubleType)).as("pct_repetitive"))
  }

  private val q163Sql =
    """WITH t AS (SELECT doc_id, text, n_chars, lang, source,
      |             regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |tok AS (SELECT doc_id, unnest(tk) AS g FROM t),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
      |       FROM t WHERE len(tk) >= 2),
      |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
      |tp AS (SELECT doc_id, max(c) AS top_tok, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS nd_tok FROM tc GROUP BY 1),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |bp AS (SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1),
      |rep AS (SELECT CAST(count(*) AS BIGINT) AS n_rep
      |        FROM tp JOIN bp USING (doc_id)
      |        WHERE tp.top_tok / tp.n_tok > 0.12
      |           OR 1 - tp.nd_tok / tp.n_tok > 0.6
      |           OR bp.top_bg / bp.n_bg > 0.06),
      |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
      |    array_to_string(list(DISTINCT lang ORDER BY lang), ',') AS langs
      |  FROM t)
      |SELECT n_docs, n_tokens, n_chars, n_langs, n_sources, langs,
      |  n_docs - n_distinct_texts AS n_exact_dup_docs,
      |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_tokens,
      |  CAST(n_rep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pct_repetitive
      |FROM base CROSS JOIN rep""".stripMargin

  // ------------- dup-graph transitivity audit (q164)
  /** [[graft.ops.Graph.triangleStats]] on the near-dup CANDIDATE graph
    * (q29's est ≥ 0.7 pairs): a genuine similarity relation closes its
    * wedges (a~b and b~c should mean a~c), so LOW clustering here is
    * the early warning that the threshold is chaining unrelated
    * documents — exactly the over-merge risk union-find then
    * amplifies, caught BEFORE dedupByClusters drops the survivors.
    * Complements q95's degree histogram with the closure view. */
  private def q164(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(Dedup.minhashSignatures(docs0(s, d), k = 32),
      bands = 4, rowsPerBand = 8, minEst = 0.7)
    graft.ops.Graph.triangleStats(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
  }

  private val q164Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.7),
       |und AS (SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
       |        FROM pr WHERE doc_a <> doc_b),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |        FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
       |        GROUP BY node),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
       |        FROM und e1
       |        JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
       |        JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |               CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges FROM deg),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
       |SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
       |  CAST(t AS DOUBLE) * 3.0 / CAST(n_wedges AS DOUBLE) AS clustering
       |FROM agg CROSS JOIN ne CROSS JOIN tri""".stripMargin

  // ------------- epoch-capped token-budget allocation (q166)
  /** The "how many tokens from each source" step of a training-mix
    * plan: [[graft.ops.Sampling.waterFillAllocation]] over per-source
    * token counts — budget 90% of the corpus, max 1 epoch per source
    * (the fixture's two smallest sources saturate, exercising BOTH
    * allocation arms against the oracle).
    * Small sources saturate at their full token count (capped=true, 1
    * epoch); every remaining source contributes the SAME water level λ
    * of tokens — uniform mixing subject to the epoch constraint, the
    * allocation shape Chinchilla-style data-constrained mixes use.
    *
    * Scale shape: ONE map-side-combining count pass over the corpus;
    * everything after runs on the |S|-row aggregate (the closed-form
    * capped-prefix window — no iteration). Integer arithmetic until
    * the single λ division, so the doubles hash-match the oracle. */
  private def q166(s: SparkSession, d: String): DataFrame = {
    val counts = docs0(s, d).groupBy("source")
      .agg(sum(TextFunctions.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    graft.ops.Sampling.waterFillAllocation(counts, "source", "n_tokens",
        budget = expr("(total_n * 9) div 10"), maxEpochs = 1)
      .sortedOut("stratum")
  }

  private val q166Sql =
    """WITH t AS (SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |c AS (SELECT source AS stratum, CAST(sum(len(tk)) AS BIGINT) AS n,
      |             CAST(sum(len(tk)) * 1 AS BIGINT) AS cap FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n, CAST(count(*) AS BIGINT) AS n_strata FROM c),
      |bb AS (SELECT n_strata, (total_n * 9) // 10 AS b FROM tot),
      |r AS (SELECT stratum, n, cap,
      |        CAST(row_number() OVER (ORDER BY cap, stratum) AS BIGINT) AS rn,
      |        CAST(sum(cap) OVER (ORDER BY cap, stratum ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
      |      FROM c),
      |f AS (SELECT r.*, bb.b, bb.n_strata,
      |        (cap * (n_strata - rn) <= b - prefix) AS capped
      |      FROM r CROSS JOIN bb),
      |lvl AS (SELECT CASE WHEN max(n_strata) > coalesce(max(CASE WHEN capped THEN rn END), 0)
      |          THEN CAST(max(b) - coalesce(sum(CASE WHEN capped THEN cap END), 0) AS DOUBLE)
      |               / CAST(max(n_strata) - coalesce(max(CASE WHEN capped THEN rn END), 0) AS DOUBLE)
      |        END AS lambda FROM f)
      |SELECT stratum, n, cap, capped,
      |  CASE WHEN capped THEN CAST(cap AS DOUBLE) ELSE lambda END AS alloc,
      |  (CASE WHEN capped THEN CAST(cap AS DOUBLE) ELSE lambda END) / CAST(n AS DOUBLE) AS epochs
      |FROM f CROSS JOIN lvl ORDER BY stratum""".stripMargin

  // ------------- per-source score normalization (q169)
  /** Rank-percentile normalization of a quality signal WITHIN each
    * source — the step that makes scores comparable ACROSS sources
    * before a global threshold (a raw cutoff on heterogeneous sources
    * silently keeps whichever feed scores generously; after per-source
    * normalization every source contributes its own top x%). Signal
    * here: token count (swap in any margin — the mechanics are the
    * rank, not the score).
    *
    * pct = (2·rank − 1) / (2·nₛ) — the midrank percentile, one
    * division of exact integers per row; decile = ((2·rank−1)·5) div nₛ
    * stays pure integer (equals floor(pct·10), always ≤ 9). The window
    * partitions by source — the per-source sort is the operator; a
    * pathologically hot source rides the same salting/range disciplines
    * as every keyed sort in this repo. */
  private def q169(s: SparkSession, d: String): DataFrame = {
    val t = docs0(s, d).select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
    val w = Window.partitionBy("source").orderBy(col("n_tok"), col("doc_id"))
    t.withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("doc_id"), col("source"), col("n_tok"),
        ((col("rn") * 2 - 1).cast(DoubleType) / (col("ns") * 2).cast(DoubleType)).as("pct"),
        // `div`, not Column `/`: Column division is IEEE-double Divide
        // and only matched the documented pure-integer contract because
        // fl((2r-1)·5/n) can't round across an integer boundary at
        // realistic n (ADVICE r7 #4) — integer division makes the
        // bit-portability argument unconditional.
        expr("((rn * 2 - 1) * 5) div ns").cast(LongType).as("decile"))
      .sortedOutWide("doc_id")
  }

  private val q169Sql =
    """WITH t AS (SELECT doc_id, source,
      |             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |           FROM documents),
      |r AS (SELECT doc_id, source, n_tok,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS BIGINT) AS rn,
      |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
      |      FROM t)
      |SELECT doc_id, source, n_tok,
      |  CAST(rn * 2 - 1 AS DOUBLE) / CAST(ns * 2 AS DOUBLE) AS pct,
      |  ((rn * 2 - 1) * 5) // ns AS decile
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------- syndication direction matrix (q170)
  /** WHO copies WHOM: every near-dup candidate pair (q29's est ≥ 0.5)
    * votes an ordered (origin → copy) edge between its SOURCES, origin
    * = the pair's lower doc_id (earlier ingest — the same survivor
    * convention as the dedup family). The aggregated |S|×|S| matrix is
    * the mirror/syndication map that q142's symmetric gram-overlap
    * can't give: direction. Feeds crawl-budget decisions (stop
    * recrawling the copier, keep the origin).
    *
    * Scale shape: pair generation IS q29 (banded join, skew-capped);
    * the two source lookups are hash joins on doc_id; the matrix
    * aggregate is map-side-combinable down to ≤|S|² rows. */
  private def q170(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs0(s, d), k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val src = docs0(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_origin")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_copy")), Seq("doc_b"))
      .groupBy("src_origin", "src_copy")
      .agg(count(lit(1)).as("n_pairs"))
      .sortedOut("src_origin", "src_copy")
  }

  private val q170Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5)
       |SELECT da.source AS src_origin, db.source AS src_copy,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pr JOIN documents da ON da.doc_id = pr.doc_a
       |        JOIN documents db ON db.doc_id = pr.doc_b
       |GROUP BY 1, 2 ORDER BY src_origin, src_copy""".stripMargin

  // ------------- token-mass concentration by length decile (q171)
  /** The Lorenz view of the corpus: exact length deciles (global rank
    * under (n_tokens, doc_id) via [[graft.ops.RelationalOps
    * .globalRowNumber]] — never a single-partition window) and each
    * decile's token mass + cumulative share. Answers "what fraction of
    * the token budget do the longest 10% of documents carry" — the
    * number that sizes a length cap before it's imposed (q158 then
    * audits what the cap dropped).
    *
    * decile = floor((rn−1)·10/N), double-exact below 10^15 docs (q147's
    * argument); cumulative share is a window over the 10-row decile
    * frame, integer sums with ONE division per row. */
  private def q171(s: SparkSession, d: String): DataFrame = {
    val t = docs0(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
    val ranked = graft.ops.RelationalOps.globalRowNumber(
      t, Seq(col("n_tok").asc, col("doc_id").asc), "rn")
    val tot = t.agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("ntt"))
    val byDec = ranked.crossJoin(broadcast(tot))
      .select(floor((col("rn") - 1) * 10 / col("nd")).as("decile"),
        col("n_tok"), col("ntt"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        max(col("ntt")).as("ntt"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // limit(16) cannot truncate (decile ∈ 0..9 by construction); it
    // makes the cumulative window's child statically bounded
    byDec.limit(16).withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        (col("cum_tokens").cast(DoubleType) / col("ntt").cast(DoubleType)).as("cum_token_share"))
      .sortedOut("decile")
  }

  private val q171Sql =
    """WITH t AS (SELECT doc_id,
      |             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |           FROM documents),
      |r AS (SELECT n_tok, CAST(row_number() OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS rn FROM t),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(n_tok) AS BIGINT) AS ntt FROM t),
      |d AS (SELECT CAST(floor(CAST((rn - 1) * 10 AS DOUBLE) / CAST(nd AS DOUBLE)) AS BIGINT) AS decile,
      |             n_tok, ntt
      |      FROM r CROSS JOIN tot),
      |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(n_tok) AS BIGINT) AS n_tokens, max(ntt) AS ntt
      |      FROM d GROUP BY decile)
      |SELECT decile, n_docs, n_tokens,
      |  CAST(CAST(sum(n_tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
      |    / CAST(ntt AS DOUBLE) AS cum_token_share
      |FROM g ORDER BY decile""".stripMargin

  // ------------- distribution-matching resample (q173)
  /** Reshape the corpus to a TARGET length profile by downsampling
    * only — [[graft.ops.Sampling.distributionMatchFractions]] (uniform
    * target over q149's five length bins) + the deterministic
    * [[graft.ops.Sampling.mixtureSample]] hash filter. The scarcest
    * bin keeps everything; every other bin trims to proportion — the
    * "match the reference corpus profile" step (length here; swap the
    * bin column for language/domain/quality-decile unchanged).
    *
    * Determinism bridge: the per-bin thresholds are floor(f·2⁶⁰)
    * longs built from division/min of exact integer counts — the q127
    * contract — so the kept SET (pinned by the id checksum) matches
    * the oracle exactly. */
  private def q173(s: SparkSession, d: String): DataFrame = {
    val nTok = TextFunctions.tokenCount(col("text"))
    val bin = when(nTok <= 24, 0).when(nTok <= 48, 1)
      .when(nTok <= 72, 2).when(nTok <= 96, 3).otherwise(4)
    val t = docs0(s, d).select(col("doc_id"), bin.as("bin")).persistT
    val target = (0 to 4).map(b => b.toString -> 0.2).toMap
    val fr = graft.ops.Sampling.distributionMatchFractions(
      t, col("bin").cast("string"), target)
    val kept = graft.ops.Sampling.mixtureSample(
      t, col("bin").cast("string"), col("doc_id"), fr)
    t.groupBy("bin").agg(count(lit(1)).as("n_docs"))
      .join(kept.groupBy("bin").agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("kept_id_sum")), Seq("bin"))
      .sortedOut("bin")
  }

  private val q173Sql = {
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN nt <= 24 THEN 0 WHEN nt <= 48 THEN 1 WHEN nt <= 72 THEN 2
       |         WHEN nt <= 96 THEN 3 ELSE 4 END AS bin
       |  FROM (SELECT doc_id,
       |          len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS nt
       |        FROM documents)),
       |c0 AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
       |cc AS (SELECT min(CAST(n AS DOUBLE) / 0.2) AS c FROM c0),
       |fr AS (SELECT bin,
       |         CAST(floor(least(1.0, c * 0.2 / CAST(n AS DOUBLE))
       |                    * 1152921504606846976.0) AS BIGINT) AS thr
       |       FROM c0 CROSS JOIN cc),
       |kept AS (SELECT t.doc_id, t.bin FROM t JOIN fr USING (bin) WHERE $h < fr.thr)
       |SELECT t2.bin, CAST(count(*) AS BIGINT) AS n_docs, k.n_kept, k.kept_id_sum
       |FROM t t2 JOIN (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n_kept,
       |         CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
       |  FROM kept GROUP BY 1) k USING (bin)
       |GROUP BY t2.bin, k.n_kept, k.kept_id_sum ORDER BY bin""".stripMargin
  }

  // ------------- exact Spearman between curation signals (q174)
  /** Does one quality signal just restate another? Exact Spearman rank
    * correlation between doc length (tokens) and lexical diversity
    * (distinct tokens) — the audit that catches a "quality" score
    * secretly measuring length (the classic curation-filter bias).
    *
    * Exactness: ranks are midranks with ties, carried DOUBLED so they
    * stay integers (2·midrank = min(rn)+max(rn) over the tie group);
    * the five sufficient sums accumulate as DECIMAL — exact and
    * order-independent — and ρ is assembled from their doubles with
    * the same IEEE ops on both engines. Ranks ride
    * [[graft.ops.RelationalOps.globalRowNumber]], never a
    * single-partition window. */
  private def q174(s: SparkSession, d: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val t = docs0(s, d).select(col("doc_id"),
        size(tk).cast(LongType).as("x"),
        size(array_distinct(tk)).cast(LongType).as("y"))
      .persistT // two rank passes + the moment aggregate
    def mr2(vCol: String, out: String): DataFrame = {
      val ranked = graft.ops.RelationalOps.globalRowNumber(
        t.select(col("doc_id"), col(vCol)), Seq(col(vCol).asc, col("doc_id").asc), "rn")
      val groups = ranked.groupBy(vCol)
        .agg((min(col("rn")) + max(col("rn"))).as(out))
      ranked.select(col("doc_id"), col(vCol))
        .join(groups, Seq(vCol)).select(col("doc_id"), col(out))
    }
    val rx = mr2("x", "mrx"); val ry = mr2("y", "mry")
    val m = rx.join(ry, Seq("doc_id"))
      .select(col("mrx").cast(DecimalType(19, 0)).as("mrx"),
              col("mry").cast(DecimalType(19, 0)).as("mry"))
      .agg(count(lit(1)).as("n"),
        sum(col("mrx")).as("sx"), sum(col("mry")).as("sy"),
        sum(col("mrx") * col("mry")).as("sxy"),
        sum(col("mrx") * col("mrx")).as("sxx"),
        sum(col("mry") * col("mry")).as("syy"))
    m.select(col("n"),
      ((col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
       sqrt((col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
             col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
            (col("n").cast(DoubleType) * col("syy").cast(DoubleType) -
             col("sy").cast(DoubleType) * col("sy").cast(DoubleType)))).as("spearman_rho"))
  }

  private val q174Sql =
    """WITH t AS (SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS x, CAST(len(list_distinct(tk)) AS BIGINT) AS y
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents)),
      |rxr AS (SELECT doc_id, x, CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS rn FROM t),
      |rxg AS (SELECT x, min(rn) + max(rn) AS mrx FROM rxr GROUP BY x),
      |rx AS (SELECT doc_id, mrx FROM rxr JOIN rxg USING (x)),
      |ryr AS (SELECT doc_id, y, CAST(row_number() OVER (ORDER BY y, doc_id) AS BIGINT) AS rn FROM t),
      |ryg AS (SELECT y, min(rn) + max(rn) AS mry FROM ryr GROUP BY y),
      |ry AS (SELECT doc_id, mry FROM ryr JOIN ryg USING (y)),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        sum(mrx) AS sx, sum(mry) AS sy,
      |        sum(mrx * mry) AS sxy, sum(mrx * mrx) AS sxx, sum(mry * mry) AS syy
      |      FROM rx JOIN ry USING (doc_id))
      |SELECT n,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |  AS spearman_rho
      |FROM m""".stripMargin

  // ------------- unigram negative-sampling table (q175)
  /** The count^0.75 unigram distribution word2vec-style negative
    * sampling draws from — per token: count, weight = count^{3/4},
    * draw probability. The ¾ power is computed as sqrt(c·sqrt(c)):
    * sqrt and multiply are CORRECTLY-ROUNDED IEEE ops, so the weights
    * are bit-portable where a pow(c, 0.75) call would not be (libm
    * pow differs across engines — the q150/q155 shared-literal problem
    * solved structurally).
    *
    * The normalizer Z accumulates as a DECIMAL(38,0) sum of 6-decimal
    * fixed-point weights floor(w·1e6) — exact, order-independent, and
    * bounded at any vocabulary size (the r7 formulation collected the
    * whole vocabulary into one sort_array(collect_list) row for a
    * bit-portable ordered fold: an executor OOM at real vocab scale —
    * VERDICT r7 "what's wrong" #2). Every step before the final
    * division is either a correctly-rounded IEEE op (sqrt, multiply,
    * floor) or integer arithmetic, so both engines produce the
    * identical Z; probs shift by < 1e-6/Z vs the r7 fold — the
    * documented price of a normalizer that never materializes the
    * vocabulary in one row. ScaleOpsSpec pins old-vs-new agreement. */
  private def q175(s: SparkSession, d: String): DataFrame = {
    val counts = docs0(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val wExpr = sqrt(col("c").cast(DoubleType) * sqrt(col("c").cast(DoubleType)))
    val z = counts
      .select(floor(wExpr * 1000000).cast(DecimalType(38, 0)).as("wq"))
      .agg((sum(col("wq")).cast(DoubleType) / 1e6).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("tok"), col("c"), wExpr.as("weight"),
        (wExpr / col("z")).as("prob"))
      .sortedOut("tok")
  }

  private val q175Sql =
    """WITH c0 AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) GROUP BY tok),
      |z AS (SELECT CAST(sum(CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))) * 1000000) AS BIGINT)) AS DOUBLE) / 1e6 AS z
      |      FROM c0)
      |SELECT tok, c, sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))) AS weight,
      |       sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))) / z AS prob
      |FROM c0 CROSS JOIN z ORDER BY tok""".stripMargin

  // ------------- dedup survivor remap / canonicalization map (q178)
  /** The step AFTER dedup that keeps downstream joins honest: every
    * doc maps to its cluster SURVIVOR (component-min doc_id; itself if
    * unclustered), producing the canonicalization table that dependent
    * datasets (chunks, annotations, links) join through — dropping
    * duplicates without repairing references corrupts every foreign
    * key pointing at a dropped copy. Reported as the full-map census
    * (count, remapped count, canonical count, id checksum): a STRONGER
    * oracle pin than q48's survivor count, because the checksum
    * certifies the entire label assignment, not just its cardinality.
    *
    * Scale shape: q29's banded pair generation + nearDupClusters
    * (driver union-find below the gate, pointer-jumping label-prop
    * above it) + one left join on doc_id; the census combines
    * map-side to one row. */
  private def q178(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(docs, k = 32),
      bands = 4, rowsPerBand = 8, minEst = 0.9)
    val clusters = Dedup.nearDupClusters(pairs)
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("canonical_id") =!= col("doc_id"), 1L).otherwise(0L)).as("n_remapped"),
        countDistinct(col("canonical_id")).as("n_canonical"),
        sum(col("canonical_id")).as("canonical_id_sum"))
  }

  private val q178Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.9),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |${componentLabelCtes()}
       |, remap AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS canonical_id
       |            FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN canonical_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_remapped,
       |  CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_canonical,
       |  CAST(sum(canonical_id) AS BIGINT) AS canonical_id_sum
       |FROM remap""".stripMargin

  // ------------- positional phrase search (q179)
  /** Exact PHRASE retrieval — the positional-index query BM25 (q63)
    * can't answer: documents containing the exact token sequence
    * "slow hash batch", found by joining each term's POSITIONAL
    * postings on (doc_id, pos+offset). This is the scale formulation:
    * the plan touches only the three phrase terms' postings (filter
    * pushed to the token explode), never re-scans full text the way a
    * LIKE would, and a standing positional TextIndex slots in by
    * swapping the explode for the postings table — the join is
    * unchanged. Per-doc occurrence counts + corpus rollup, all
    * integers. */
  private def q179(s: SparkSession, d: String): DataFrame = {
    val phrase = Seq("slow", "hash", "batch")
    // persist with NO matching unpersist (the repo's lazy-plan pattern):
    // the r7 advice caught an unpersist placed right after building the
    // lazy `hits` plan — before any action — which silently turned the
    // cache into a no-op and recomputed the posexplode once per term.
    val toks = docs0(s, d).select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .where(col("tok").isin(phrase: _*)) // prune to phrase terms before the joins
      .persistT
    val hits = phrase.zipWithIndex.map { case (t, i) =>
      toks.where(col("tok") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce(_.join(_, Seq("doc_id", "start")))
    hits.groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .agg(count(lit(1)).as("n_docs_matched"),
        sum(col("n_occurrences")).as("n_occurrences"),
        sum(col("doc_id")).as("doc_id_sum"))
  }

  private val q179Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |p AS (SELECT doc_id, i AS start FROM t, unnest(range(1, len(tk) - 1)) AS u(i)
      |      WHERE tk[i] = 'slow' AND tk[i+1] = 'hash' AND tk[i+2] = 'batch'),
      |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs_matched,
      |       CAST(sum(n) AS BIGINT) AS n_occurrences,
      |       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
      |FROM g""".stripMargin

  // ------------- sparse term-vector cosine similarity join (q180)
  /** The SPARSE member of the similarity-join family (dense cosine
    * q58, token-set Jaccard q56, gram containment q119): cosine over
    * raw term-frequency vectors, computed through the inverted index —
    * dot(a,b) = Σ_t tf_a(t)·tf_b(t) accumulates via a self-join on the
    * TERM, so only docs SHARING a term ever meet. TF weights stay
    * INTEGERS through the shuffle; the two norms are integer sums; the
    * one fp step is dot/(√na·√nb) at the end — sqrt is correctly
    * rounded, so every cosine is bit-portable. Pairs at cos ≥ 0.9 with
    * doc_a < doc_b, on a fixed 200-doc panel (see body comment). */
  private def q180(s: SparkSession, d: String): DataFrame = {
    // fixed id-prefix panel — q156's panel-exactness discipline. At
    // corpus scale the pair generation takes the q119 df-cap (a term
    // shared by everyone identifies nobody) or an LSH prefilter; the
    // dot-via-term-join and the integer weights are unchanged.
    val tf = docs0(s, d).where(col("doc_id") < 200)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persistT // norms pass + the pair join
    val norms = tf.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val a = tf.select(col("tok"), col("doc_id").as("doc_a"), col("tf").as("tfa"))
    val b = tf.select(col("tok"), col("doc_id").as("doc_b"), col("tf").as("tfb"))
    val dots = a.join(b, Seq("tok")).where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType)))).as("cos"))
      .where(col("cos") >= 0.9)
      .sortedOut("doc_a", "doc_b")
  }

  private val q180Sql =
    """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |           FROM documents WHERE doc_id < 200),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
      |norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1),
      |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      |         FROM tf a JOIN tf b ON b.tok = a.tok AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
      |FROM dots JOIN norms na ON na.doc_id = dots.doc_a
      |          JOIN norms nb ON nb.doc_id = dots.doc_b
      |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------- HTML boilerplate extraction (q182)
  /** Tag-strip + line-density boilerplate removal over an HTML-wrapped
    * variant of `documents` — the first operator a CRAWL corpus runs
    * (the fixture is clean text, so the markup is synthesized
    * deterministically per doc: skeleton + nav + menu + the text as
    * the content paragraph + a per-doc-id variant line + footer).
    * The variant line rotates the three hard cases through the corpus:
    * doc_id%3==0 wraps the content in NESTED tags (must survive),
    * ==1 appends a LINK FARM whose text passes the length gate but
    * fails the density gate, ==2 injects a MALFORMED tag (attribute
    * quote swallows the `>`) that must still strip best-effort and
    * drop as too short. Census per doc: line counts by outcome
    * (kept / too-short / markup-dominated) + the extracted text's
    * length and md5 — the md5 pins the exact extraction, not just the
    * counts. See [[graft.text.Boilerplate]] for the keep rules (pure
    * integer gates) and QualitySpec for the edge-case pins.
    *
    * Scale shape: one pure per-document expression tree (split /
    * transform / filter / regexp_replace), zero shuffle before the
    * output sort — the raw-HTML column never leaves its scan task. */
  private def q182(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val variant = when(col("doc_id") % 3 === 0,
        concat(lit("<div><span>"), col("text"), lit("</span></div>")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("<p class=\"rel\">"), substring(col("text"), 1, 30),
          lit("</p><a href=\"/p/1\">1</a><a href=\"/p/2\">2</a><a href=\"/p/3\">3</a>" +
            "<a href=\"/p/4\">4</a><a href=\"/p/5\">5</a><a href=\"/p/6\">6</a>" +
            "<a href=\"/p/7\">7</a><a href=\"/p/8\">8</a>")))
      .otherwise(lit("<div class=\"promo><b>subscribe now</b></div>"))
    val html = concat(
      lit("<html>\n<head><title>doc "), id, lit("</title></head>\n<body>\n"),
      lit("<div class=\"nav\"><a href=\"/\">home</a> | <a href=\"/c/"), col("source"),
      lit("\">"), col("source"), lit("</a> | <a href=\"/about\">about</a></div>\n"),
      lit("<ul class=\"menu\"><li><a href=\"/tags\">tags</a></li><li><a href=\"/feed\">feed</a></li></ul>\n"),
      lit("<p>"), col("text"), lit("</p>\n"),
      variant, lit("\n"),
      lit("<div class=\"footer\">(c) 2026 example | <a href=\"/tos\">terms</a> | <a href=\"/privacy\">privacy</a></div>\n</body>\n</html>"))
    docs0(s, d).select(col("doc_id"), html.as("html"))
      .select(col("doc_id"), graft.text.Boilerplate.census(col("html")).as("c"))
      .select(col("doc_id"),
        col("c.n_lines").as("n_lines"), col("c.n_kept").as("n_kept"),
        col("c.n_short").as("n_short"), col("c.n_lowdensity").as("n_lowdensity"),
        length(col("c.extracted")).cast(LongType).as("kept_chars"),
        md5(col("c.extracted").cast("binary")).as("extract_md5"))
      .sortedOutWide("doc_id")
  }

  private val q182Sql =
    """WITH h AS (SELECT doc_id,
      |    '<html>' || chr(10) || '<head><title>doc ' || CAST(doc_id AS VARCHAR)
      |    || '</title></head>' || chr(10) || '<body>' || chr(10)
      |    || '<div class="nav"><a href="/">home</a> | <a href="/c/' || source || '">'
      |    || source || '</a> | <a href="/about">about</a></div>' || chr(10)
      |    || '<ul class="menu"><li><a href="/tags">tags</a></li><li><a href="/feed">feed</a></li></ul>' || chr(10)
      |    || '<p>' || text || '</p>' || chr(10)
      |    || (CASE WHEN doc_id % 3 = 0 THEN '<div><span>' || text || '</span></div>'
      |             WHEN doc_id % 3 = 1 THEN '<p class="rel">' || substr(text, 1, 30)
      |               || '</p><a href="/p/1">1</a><a href="/p/2">2</a><a href="/p/3">3</a><a href="/p/4">4</a><a href="/p/5">5</a><a href="/p/6">6</a><a href="/p/7">7</a><a href="/p/8">8</a>'
      |             ELSE '<div class="promo><b>subscribe now</b></div>' END) || chr(10)
      |    || '<div class="footer">(c) 2026 example | <a href="/tos">terms</a> | <a href="/privacy">privacy</a></div>'
      |    || chr(10) || '</body>' || chr(10) || '</html>' AS html
      |  FROM documents),
      |st AS (SELECT doc_id, list_transform(str_split(html, chr(10)),
      |    l -> struct_pack(raw := len(l),
      |                     txt := len(trim(regexp_replace(l, '<[^>]*>', '', 'g'))),
      |                     s := trim(regexp_replace(l, '<[^>]*>', '', 'g')))) AS sts
      |  FROM h),
      |k AS (SELECT doc_id, sts,
      |    list_filter(sts, x -> x.txt >= 25 AND 2 * x.txt >= x.raw) AS kept
      |  FROM st)
      |SELECT doc_id,
      |  CAST(len(sts) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(len(list_filter(sts, x -> x.txt < 25)) AS BIGINT) AS n_short,
      |  CAST(len(list_filter(sts, x -> x.txt >= 25 AND 2 * x.txt < x.raw)) AS BIGINT) AS n_lowdensity,
      |  CAST(len(array_to_string(list_transform(kept, x -> x.s), chr(10))) AS BIGINT) AS kept_chars,
      |  md5(array_to_string(list_transform(kept, x -> x.s), chr(10))) AS extract_md5
      |FROM k ORDER BY doc_id""".stripMargin

  // ------------- syndication communities by label propagation (q183)
  /** WHICH SOURCES FORM A RING: community detection over the
    * source-level syndication graph — nodes are sources, an edge's
    * weight is the number of cross-source near-dup candidate pairs
    * (q29's est ≥ 0.5), i.e. how much content the two feeds share.
    * One step past q170's pairwise direction matrix: the transitive
    * grouping ("these five feeds all mirror each other") that drives
    * crawl-budget and source-dedup decisions at the GROUP level.
    *
    * [[graft.ops.Graph.labelPropagation]] — deterministic synchronous
    * weighted LPA, 4 rounds, smallest-label tie-break — plus the exact
    * [[graft.ops.Graph.modularity]] of the resulting partition (the
    * quality-of-communities scalar, integer arithmetic until one final
    * division). The oracle unrolls the same 4 rounds (q117's unrolled
    * PageRank discipline) and recomputes Q from the same integer sums.
    *
    * Scale shape: pair generation IS q29 (banded, skew-capped); the
    * source graph is ≤|S|² rows, every LPA round one |E|-bounded
    * shuffle + a map-side-combining integer argmax — no window, no
    * sort, no fp. */
  private def q183(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(docs, k = 32), bands = 4, rowsPerBand = 8, minEst = 0.5)
    val src = docs.select(col("doc_id"), col("source"))
    // localCheckpoint (not persist) the ≤|S|²-row edge list: it feeds
    // labelPropagation's 4 rounds AND modularity's joins, and a
    // persist only caches the DATA — every downstream plan still
    // carries (and re-analyzes) the whole minhash pair-pipeline
    // LINEAGE per round, which dominated the query (measured 10.5 s;
    // the checkpoint leaf cuts it to ~4 s — the Mmr.rerank lesson
    // applied at the operator boundary).
    val e = graft.ops.Lineage.cut(pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .where(col("sa") =!= col("sb"))
      .groupBy(col("sa").as("src"), col("sb").as("dst"))
      .agg(count(lit(1)).as("w")))
    val nodes = docs.select(col("source")).distinct()
    val labels = graft.ops.Graph.labelPropagation(e, nodes, iters = 4)
    val q = graft.ops.Graph.modularity(e, labels)
    labels.crossJoin(broadcast(q))
      .select(col("node").as("source"), col("community"),
        col("two_m"), col("modularity"))
      .sortedOut("source")
  }

  private val q183Sql = {
    def iter(p: String, c: String) =
      s"""nb$c AS (SELECT e.dst AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS s
         |  FROM e JOIN l$p l ON l.node = e.src GROUP BY 1, 2),
         |bs$c AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY s DESC, lbl) AS rn
         |    FROM nb$c) WHERE rn = 1),
         |l$c AS (SELECT n.node, coalesce(b.lbl, n.node) AS lbl
         |  FROM nodes n LEFT JOIN bs$c b ON b.node = n.node)""".stripMargin
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
       |e0 AS (SELECT da.source AS a, db.source AS b, CAST(count(*) AS BIGINT) AS w
       |  FROM pr JOIN documents da ON da.doc_id = pr.doc_a
       |          JOIN documents db ON db.doc_id = pr.doc_b
       |  WHERE da.source <> db.source GROUP BY 1, 2),
       |e AS (SELECT a AS src, b AS dst, CAST(sum(w) AS BIGINT) AS w
       |  FROM (SELECT a, b, w FROM e0 UNION ALL SELECT b AS a, a AS b, w FROM e0) u
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT source AS node FROM documents),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")},
       |${iter("3", "4")},
       |tm AS (SELECT CAST(sum(w) AS BIGINT) AS two_m FROM e),
       |j AS (SELECT e.w, la.lbl AS ca, lb.lbl AS cb
       |  FROM e JOIN l4 la ON la.node = e.src JOIN l4 lb ON lb.node = e.dst),
       |tot AS (SELECT ca AS c, CAST(sum(w) AS BIGINT) AS tot_c FROM j GROUP BY 1),
       |inc AS (SELECT ca AS c, CAST(sum(w) AS BIGINT) AS in_c FROM j WHERE ca = cb GROUP BY 1),
       |num AS (SELECT sum(coalesce(inc.in_c, 0) * tm.two_m - tot.tot_c * tot.tot_c) AS numer
       |  FROM tot LEFT JOIN inc ON inc.c = tot.c CROSS JOIN tm)
       |SELECT l4.node AS source, l4.lbl AS community, tm.two_m,
       |  CAST(num.numer AS DOUBLE)
       |    / (CAST(tm.two_m AS DOUBLE) * CAST(tm.two_m AS DOUBLE)) AS modularity
       |FROM l4 CROSS JOIN tm CROSS JOIN num ORDER BY source""".stripMargin
  }

  // --------------------- exact Jaccard join by prefix filtering (q196)
  /** EXACT set-similarity self-join via the PPJoin prefix-filter
    * principle (Xiao et al. 2008) — the exact counterpart of the
    * MinHash-LSH approximation (q29): for Jaccard(A,B) >= t, A and B
    * MUST share a token among the first |X| - ceil(t|X|) + 1 tokens of
    * each when every set is ordered by one GLOBAL token order (rarest
    * first, so prefixes carry the most selective tokens). Candidates
    * come from a self-join of prefix tokens only, pre-pruned by the
    * LENGTH filter (Jaccard >= t forces 9·|A| <= 10·|B| and vice
    * versa — a one-comparison kill before any verification); exact
    * intersection/union counts verify. The threshold t = 9/10 is kept
    * RATIONAL end-to-end: prefix length uses integer ceil
    * (n - (9n+9) div 10 + 1) and the filter is 10·inter >= 9·union —
    * no fp anywhere, which is what lets the oracle assert EXHAUSTIVE
    * completeness: DuckDB computes every token-sharing pair
    * brute-force through the inverted index, so one pair missed by
    * the prefix or length filter (an incompleteness bug) fails the
    * hash match — as does one slip in the expansion algebra below.
    *
    * The decisive scale move: EXACT-DUPLICATE COLLAPSE FIRST. A
    * dup-saturated corpus (this fixture, most crawls) has far fewer
    * DISTINCT token sets than documents; identical sets join at
    * Jaccard 1 by definition, so the quadratic pair mass inside and
    * between those families must never be enumerated. Documents
    * group by a set signature (md5 of the sorted distinct tokens),
    * PPJoin runs on one representative per group, and the 1-row
    * summary EXPANDS arithmetically from per-group (count, id-sum,
    * id-square-sum): a group of m copies contributes C(m,2) Jaccard-1
    * pairs; a qualifying representative pair (A,B) contributes
    * mA·mB pairs; the symmetric id checksums Σ(a+b) and Σ(a·b)
    * expand as (m−1)·s and (s²−q)/2 within a group, and mB·sA+mA·sB
    * and sA·sB across — which is WHY the checksums are symmetric
    * functions, not the doc_a<doc_b-keyed form (that one cannot be
    * expanded without enumerating). Measured at sf0.1: 35 s
    * enumerated → the collapsed form below; the oracle still
    * enumerates every pair brute-force, so the algebra is verified,
    * not trusted.
    *
    * Scale shape: at t = 9/10 the prefix is ~n/10 RAREST tokens
    * (rarest-first ordering keeps flooded tokens out), and the length
    * filter kills cross-size candidates before the verification
    * joins, which are linear in surviving candidate token lists. The
    * global token ranking is a vocabulary-bounded sort (the Bpe/Vocab
    * precedent). A loose threshold (say 3/5) on a shared-vocabulary
    * corpus is the WRONG tool by construction: its prefixes cover
    * ~2n/5 tokens and its result set is quadratic — measured 102 s at
    * sf0.1 before this was retuned; near-dup dedup is the 0.9 regime. */
  private def q196(s: SparkSession, d: String): DataFrame = {
    // per-doc DISTINCT token set computed IN-ROW (r17): the set, its
    // size and its signature are row-local facts of one document, so
    // array_sort(array_distinct(filter(tokens, len > 0))) replaces
    // BOTH head exchanges — the (doc_id, tok) explode+distinct AND the
    // groupBy(doc_id) collect_set — with a projection. Docs whose set
    // comes up empty drop exactly as the old explode+filter produced
    // no rows for them.
    val docSets = docs0(s, d)
      .select(col("doc_id"),
        array_sort(array_distinct(filter(TextFunctions.tokens(col("text")),
          t => length(t) > 0))).as("set"))
      .where(size(col("set")) > 0)
    // exact-dup collapse: group docs by set signature, keep min-id rep;
    // min_by carries the REPRESENTATIVE'S OWN array (not an arbitrary
    // member's), matching the old semi-join-back-to-allToks semantics
    // even under an md5 collision
    val groups = docSets
      .select(col("doc_id"), col("set"),
        md5(concat_ws("\u0001", col("set"))).as("sig"))
      .groupBy("sig")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("m"),
        sum(col("doc_id")).cast(DecimalType(38, 0)).as("ids"),
        sum(col("doc_id") * col("doc_id")).cast(DecimalType(38, 0)).as("idsq"),
        min_by(col("set"), col("doc_id")).as("set"))
      .persistT
    // eager fill (the fill-race lesson): the rank census and the
    // rank-attach join are concurrent subtrees of sets' materialization
    // below — left lazy they race to fill this cache and the
    // scan+tokenize+collapse chain runs twice
    groups.count()
    val reps = groups.select(col("rep").as("doc_id"), col("m"), col("ids"), col("idsq"))
    val toks = groups.select(col("rep").as("doc_id"), explode(col("set")).as("tok"))
    // global order: rarest first (df over REPRESENTATIVES), ties by
    // token. The rank frame is vocabulary-sized — which Heaps' law
    // (q159) says GROWS with the corpus — so it gets the distributed
    // globalRowNumber formulation, not a single-partition
    // row_number().over(Window.orderBy(...)) window.
    val ranked = graft.ops.RelationalOps.globalRowNumber(
        // persist (r17): the rank's range partitioner SAMPLES its child
        // before shuffling it — unpersisted, the vocabulary census
        // aggregate executed twice (q161's lesson)
        toks.groupBy("tok").agg(count(lit(1)).as("df")).persistT,
        Seq(col("df").asc, col("tok").asc), outCol = "rk")
      .select(col("tok"), col("rk"))
    // Rank-sorted token-ID SET per representative (r16 optimization):
    // the global rank is a BIJECTION of the vocabulary (ties broken by
    // token), so (a) sort_array(collect_list(rk)) ascending IS the
    // rarest-first order the previous per-doc row_number window
    // produced — the PPJoin prefix becomes a plain array slice, no
    // window sort; and (b) |A ∩ B| = |ranks(A) ∩ ranks(B)| exactly, so
    // the intersection count moves from an exploded per-token
    // self-join + groupBy (measured 42M intermediate rows at sf0.1 —
    // 2.07M candidate pairs × ~20 shared tokens each, two exchanges
    // plus a 42M-row hash aggregate, the dominant cost of the whole
    // query) to ONE array_intersect per candidate pair with the
    // doc→ranks sets attached by join (guide §2.3/§2.4: shuffle the
    // per-doc set once, not once per shared token). Sizes come free as
    // size(tks), dropping the separate sizes aggregate and two joins.
    val sets = toks.join(ranked, Seq("tok"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("rk"))).as("tks"))
      .select(col("doc_id"), col("tks"), size(col("tks")).cast("long").as("n"))
      .persistT // feeds the prefix explode and both pair-attach joins
    // materialize EAGERLY (r17, the fill-race lesson): sets feeds four
    // concurrent subtrees of the one final action (prefix explode,
    // both pair attaches, the sizes projection) — left lazy, their
    // first-execution stages race to fill the cache and the whole
    // rank+collect chain recomputes per subtree
    sets.count()
    val sizes = sets.select(col("doc_id"), col("n"))
    // prefix length n - ceil(9n/10) + 1, integer arithmetic only
    val prefix = sets.select(col("doc_id"), col("n"),
      explode(slice(col("tks"), lit(1),
        (col("n") - expr("(n * 9 + 9) div 10") + 1).cast("int"))).as("rk"))
    val cands = prefix.select(col("rk"), col("doc_id").as("doc_a"), col("n").as("na"))
      .join(prefix.select(col("rk"), col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("rk"))
      .where(col("doc_a") < col("doc_b") &&
        // length filter: Jaccard >= 9/10 is impossible across sizes
        // differing by more than 10/9 — kill before verification
        col("na") * 9 <= col("nb") * 10 && col("nb") * 9 <= col("na") * 10)
      .select("doc_a", "doc_b").distinct()
    val inter = cands
      .join(sets.select(col("doc_id").as("doc_a"), col("tks").as("ta")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("tks").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("n_inter"))
    // expansion algebra over document-level pairs, DECIMAL(38,0) so no
    // magnitude ever overflows; never enumerate the quadratic pair set
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val crossPairs = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .where(col("n_inter") * 10 >= col("n_union") * 9)
      .join(reps.select(col("doc_id").as("doc_a"), col("m").as("ma"),
        col("ids").as("sa")), Seq("doc_a"))
      .join(reps.select(col("doc_id").as("doc_b"), col("m").as("mb"),
        col("ids").as("sb")), Seq("doc_b"))
      .agg(
        coalesce(sum(dec(col("ma")) * dec(col("mb"))), dec(lit(0))).as("np"),
        coalesce(sum(dec(col("ma")) * dec(col("mb")) * dec(col("n_inter"))), dec(lit(0))).as("si"),
        coalesce(sum(dec(col("ma")) * dec(col("mb")) * dec(col("n_union"))), dec(lit(0))).as("su"),
        coalesce(sum(dec(col("mb")) * col("sa") + dec(col("ma")) * col("sb")), dec(lit(0))).as("sab"),
        coalesce(sum(col("sa") * col("sb")), dec(lit(0))).as("pab"))
    val withinPairs = groups
      .join(sizes.select(col("doc_id").as("rep"), col("n")), Seq("rep"))
      .where(col("m") >= 2)
      .agg(
        coalesce(sum(dec(col("m")) * dec(col("m") - 1) / 2), dec(lit(0))).as("wnp"),
        coalesce(sum(dec(col("m")) * dec(col("m") - 1) / 2 * dec(col("n"))), dec(lit(0))).as("wsi"),
        coalesce(sum(dec(col("m")) * dec(col("m") - 1) / 2 * dec(col("n"))), dec(lit(0))).as("wsu"),
        coalesce(sum(dec(col("m") - 1) * col("ids")), dec(lit(0))).as("wsab"),
        coalesce(sum((col("ids") * col("ids") - col("idsq")) / 2), dec(lit(0))).as("wpab"))
    crossPairs.crossJoin(broadcast(withinPairs))
      .select(
        (col("np") + col("wnp")).cast(LongType).as("n_pairs"),
        (col("si") + col("wsi")).cast(LongType).as("sum_inter"),
        (col("su") + col("wsu")).cast(LongType).as("sum_union"),
        (col("sab") + col("wsab")).cast(LongType).as("sum_ab"),
        (col("pab") + col("wpab")).cast(LongType).as("prod_ab"))
  }

  private val q196Sql =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, tok
      |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE length(tok) > 0),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(n_inter) AS BIGINT) AS sum_inter,
      |  CAST(sum(n_union) AS BIGINT) AS sum_union,
      |  CAST(sum(doc_a + doc_b) AS BIGINT) AS sum_ab,
      |  CAST(sum(doc_a * doc_b) AS BIGINT) AS prod_ab
      |FROM (SELECT doc_a, doc_b, n_inter, sa.n + sb.n - n_inter AS n_union
      |  FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
      |             JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE n_inter * 10 >= (sa.n + sb.n - n_inter) * 9)""".stripMargin

  // ------- edit-distance-1 vocabulary join via deletion neighborhoods (q201)
  /** Typo-tolerant vocabulary consolidation — the COMPLETE twin of
    * q153's heuristic first-token blocking: for edit distance ≤ 1,
    * the FastSS deletion-neighborhood principle is a THEOREM, not a
    * recall bet. Two strings are within Levenshtein 1 iff they share
    * a key in {t} ∪ delete1(t): a substitution pair shares the
    * deletion at the differing position, an insertion/deletion pair
    * shares the shorter string itself. Candidates therefore come from
    * ONE equi-join on generated variant keys (|t|+1 narrow rows per
    * vocab term — no quadratic stage anywhere), then exact
    * `levenshtein` verifies away false candidates (strings at
    * distance 2 can share a deletion variant — "abX" and "abY" both
    * delete to "ab" from position 3, which is a TRUE substitution
    * pair, but "aXc"/"aYd" share nothing; the verify step is what
    * makes over-generation harmless, never completeness). Both engines build
    * the identical neighborhoods and run their own exact Levenshtein,
    * so the PAIR SET matches, not an estimate; pairs split into
    * substitutions (equal length) vs indels. Tokens are length-capped
    * [4, 20] — the q119-style guard that also bounds neighborhood
    * fan-out.
    *
    * Scale shape: vocabulary-bounded, not corpus-bounded (the
    * distinct-token frame is the input); variant generation is a
    * narrow per-row transform; the self-join keys are (len-1)-grams
    * whose frequency the length floor keeps tame — the same
    * skew-surface as LSH band buckets, with the same cap discipline
    * available if a real corpus needs it. */
  private def q201(s: SparkSession, d: String): DataFrame = {
    val vocab = docs0(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .where(length(col("tok")).between(4, 20)).distinct().persistT
    // keys: the token itself (distance-0 / indel anchor) + all
    // single-deletion variants, tagged with nothing but the string
    val variants = vocab.select(col("tok"),
      explode(concat(array(col("tok")),
        transform(sequence(lit(1), length(col("tok"))), i =>
          concat(col("tok").substr(lit(1), i - 1),
            col("tok").substr(i + 1, lit(2147483647)))))).as("key"))
      .distinct()
    val cands = variants.select(col("key"), col("tok").as("tok_a"))
      .join(variants.select(col("key"), col("tok").as("tok_b")), Seq("key"))
      .where(col("tok_a") < col("tok_b"))
      .select("tok_a", "tok_b").distinct()
    val pairs = cands
      .where(levenshtein(col("tok_a"), col("tok_b")) <= 1)
    val out = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(length(col("tok_a")) === length(col("tok_b")), 1L)
        .otherwise(0L)).as("n_subst"),
      sum(when(length(col("tok_a")) =!= length(col("tok_b")), 1L)
        .otherwise(0L)).as("n_indel"),
      sum(length(col("tok_a")) + length(col("tok_b"))).cast(LongType).as("len_sum"))
    val nv = vocab.agg(count(lit(1)).as("n_vocab"))
    out.crossJoin(broadcast(nv))
      .select(col("n_vocab"), col("n_pairs"), col("n_subst"),
        col("n_indel"), col("len_sum"))
  }

  private val q201Sql =
    """WITH vocab AS (
      |  SELECT DISTINCT tok
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE length(tok) BETWEEN 4 AND 20),
      |variants AS (
      |  SELECT DISTINCT tok, key FROM (
      |    SELECT tok, tok AS key FROM vocab
      |    UNION ALL
      |    SELECT tok, substr(tok, 1, i - 1) || substr(tok, i + 1) AS key
      |    FROM vocab, unnest(range(1, length(tok) + 1)) AS t(i))),
      |cands AS (
      |  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
      |  FROM variants a JOIN variants b USING (key)
      |  WHERE a.tok < b.tok),
      |pairs AS (SELECT * FROM cands WHERE levenshtein(tok_a, tok_b) <= 1)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS n_vocab,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN length(tok_a) = length(tok_b) THEN 1 ELSE 0 END) AS BIGINT) AS n_subst,
      |  CAST(sum(CASE WHEN length(tok_a) <> length(tok_b) THEN 1 ELSE 0 END) AS BIGINT) AS n_indel,
      |  CAST(sum(length(tok_a) + length(tok_b)) AS BIGINT) AS len_sum
      |FROM pairs""".stripMargin

  // ------- naive-split near-dup leakage audit (q245)
  /** The MONITORING twin of the leak-free splitters: q106/q133 build
    * splits that cannot leak BY CONSTRUCTION; this query AUDITS the
    * split everyone actually ships first — a per-document hash split
    * (md5-60 of "split:"+doc_id, 80/10/10) — and prices its leakage:
    * near-dup candidate pairs (est ≥ 0.7, q29's banded machinery)
    * whose endpoints landed in different splits. The train/test and
    * train/val rows are the headline: every such pair is an eval
    * document whose near-duplicate the model trained on. Reported per
    * unordered split pair: pairs, distinct docs involved, their token
    * mass.
    *
    * Scale shape: one banded candidate generation + two shuffle joins
    * to attach split labels (doc_id-keyed, co-partitioned with the
    * pair frame), then doc-grain distinct + two tiny rollups. */
  private def q245(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val split = docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"),
        pmod(Hashing.h60(concat(lit("split:"), col("doc_id").cast(StringType))),
          lit(100L)).as("b"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .drop("b").persistT
    val lab = Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs, k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.7)
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa"),
        col("n_tok").as("ta")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb"),
        col("n_tok").as("tb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"),
        col("doc_a"), col("doc_b"), col("ta"), col("tb"))
      .persistT
    val involved = lab.select(col("split_a"), col("split_b"),
        col("doc_a").as("doc_id"), col("ta").as("n_tok"))
      .unionByName(lab.select(col("split_a"), col("split_b"),
        col("doc_b").as("doc_id"), col("tb").as("n_tok")))
      .distinct()
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    lab.groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .join(involved, Seq("split_a", "split_b"))
      .sortedOut("split_a", "split_b")
  }

  private lazy val q245Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |sl AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok,
       |    CASE WHEN ${Hashing.duckH60("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 80 THEN 'train'
       |         WHEN ${Hashing.duckH60("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |lab AS (SELECT least(a.split, b.split) AS split_a,
       |    greatest(a.split, b.split) AS split_b,
       |    est.doc_a, est.doc_b, a.n_tok AS ta, b.n_tok AS tb
       |  FROM est JOIN sl a ON a.doc_id = est.doc_a
       |           JOIN sl b ON b.doc_id = est.doc_b
       |  WHERE est_jaccard >= 0.7),
       |inv AS (SELECT DISTINCT split_a, split_b, doc_id, n_tok FROM (
       |    SELECT split_a, split_b, doc_a AS doc_id, ta AS n_tok FROM lab
       |    UNION ALL SELECT split_a, split_b, doc_b, tb FROM lab)),
       |ds AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM inv GROUP BY 1, 2),
       |ps AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM lab GROUP BY 1, 2)
       |SELECT split_a, split_b, n_pairs, n_docs, n_tokens
       |FROM ps JOIN ds USING (split_a, split_b)
       |ORDER BY split_a, split_b""".stripMargin

  // ------- trigram frequency spectrum (q246)
  /** The count-of-counts view of the n-gram vocabulary — the
    * Zipf/Good-Turing spectrum: how many word-TRIGRAM types occur
    * exactly k times (k = 1..10, 11 = "11+"), and the occurrence mass
    * each bin carries. Trigrams, not unigrams, BY MEASUREMENT: the
    * fixture's unigram vocabulary is 31 types all in the 11+ bin
    * (degenerate one-row spectrum), while trigrams spread 9 k-bins
    * with a 9.4 k-type hapax head — the shape Good-Turing smoothing
    * and contamination screens actually consume. The k=1 row is the
    * health headline: hapax-heavy = noise/IDs, hapax-starved =
    * saturated templates. Complements q159's vocab GROWTH curve with
    * the frequency AXIS at full corpus.
    *
    * Scale shape: per-doc trigram build inside the row (no
    * explode-then-window), one (trigram) count aggregate (map-side
    * combined), an ≤11-row rollup; the share join broadcasts a 1-row
    * total. */
  private def q246(s: SparkSession, d: String): DataFrame = {
    val tk = col("tk")
    val tris = when(size(tk) >= 3,
      transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))
      .otherwise(array().cast("array<string>"))
    val occ = docs0(s, d)
      .select(TextFunctions.tokens(col("text")).as("tk"))
      .select(explode(tris).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("c"))
    val spec = occ.groupBy(least(col("c"), lit(11L)).as("k_occurrences"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_occurrences"))
    spec.crossJoin(broadcast(spec.agg(sum(col("n_types")).as("total_types"))))
      .withColumn("share_ppm", expr("n_types * 1000000 div total_types"))
      .select("k_occurrences", "n_types", "n_occurrences", "share_ppm")
      .sortedOut("k_occurrences")
  }

  private val q246Sql =
    """WITH d AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |occ AS (SELECT tri, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(CASE WHEN len(tk) >= 3
      |      THEN list_transform(range(1, len(tk) - 1),
      |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |      ELSE [] END) AS tri
      |    FROM d) GROUP BY 1),
      |spec AS (SELECT CAST(least(c, 11) AS BIGINT) AS k_occurrences,
      |    CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(c) AS BIGINT) AS n_occurrences
      |  FROM occ GROUP BY 1)
      |SELECT k_occurrences, n_types, n_occurrences,
      |  CAST(n_types * 1000000 // (SELECT sum(n_types) FROM spec) AS BIGINT) AS share_ppm
      |FROM spec ORDER BY k_occurrences""".stripMargin

  // ------- source-pair duplication affinity (q248)
  /** The STRENGTH matrix behind q183's syndication communities: for
    * every unordered source pair, observed near-dup candidate pairs
    * (est ≥ 0.7) against the pair universe size, as lift vs
    * independence — lift_ppm = (o/P) / (u/U) in exact ppm, numerators
    * cleared through DECIMAL(38,0). Lift ≫ 1e6 between two sources is
    * a mirror/syndication relationship even when absolute counts are
    * small; the diagonal is each source's internal duplication
    * propensity. Where q183 asks "which sources CLUSTER", this asks
    * "how HARD do these two copy each other", normalized for size.
    *
    * Scale shape: one banded candidate generation, two doc_id-keyed
    * label joins, then ALL arithmetic on the |S|² source grid (tiny;
    * counts frame broadcast both ways). boundedRegistry guards the
    * source axis like q226. */
  private def q248(s: SparkSession, d: String): DataFrame = {
    val dec38 = (c: Column) => c.cast(DecimalType(38, 0))
    val docs = docs0(s, d)
    val src = docs.select(col("doc_id"), col("source")).persistT
    val obs = Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs, k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.7)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val counts = graft.ops.RelationalOps.boundedRegistry(
      src.groupBy("source").agg(count(lit(1)).as("n")), 4096, "q248 source axis")
    val uni = counts.select(col("source").as("source_a"), col("n").as("na"))
      .crossJoin(counts.select(col("source").as("source_b"), col("n").as("nb")))
      .where(col("source_a") <= col("source_b"))
      .select(col("source_a"), col("source_b"),
        when(col("source_a") === col("source_b"),
          expr("na * (na - 1) div 2")).otherwise(col("na") * col("nb"))
          .as("universe_pairs"))
    val grid = uni.join(obs, Seq("source_a", "source_b"), "left_outer")
      .na.fill(0L, Seq("n_pairs"))
    val tot = grid.agg(sum(col("n_pairs")).as("p_tot"),
      sum(col("universe_pairs")).as("u_tot"))
    grid.crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"), col("universe_pairs"),
        when(col("p_tot") > 0 && col("universe_pairs") > 0,
          expr("CAST(CAST(n_pairs AS DECIMAL(38,0)) * u_tot * 1000000 div (CAST(p_tot AS DECIMAL(38,0)) * universe_pairs) AS BIGINT)"))
          .as("lift_ppm"))
      .sortedOut("source_a", "source_b")
  }

  private lazy val q248Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |src AS (SELECT doc_id, source FROM documents),
       |obs AS (SELECT least(a.source, b.source) AS source_a,
       |    greatest(a.source, b.source) AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM est JOIN src a ON a.doc_id = est.doc_a
       |           JOIN src b ON b.doc_id = est.doc_b
       |  WHERE est_jaccard >= 0.7 GROUP BY 1, 2),
       |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1),
       |uni AS (SELECT x.source AS source_a, y.source AS source_b,
       |    CAST(CASE WHEN x.source = y.source THEN x.n * (x.n - 1) // 2
       |         ELSE x.n * y.n END AS BIGINT) AS universe_pairs
       |  FROM cnt x CROSS JOIN cnt y WHERE x.source <= y.source),
       |grid AS (SELECT uni.source_a, uni.source_b,
       |    CAST(coalesce(obs.n_pairs, 0) AS BIGINT) AS n_pairs, uni.universe_pairs
       |  FROM uni LEFT JOIN obs USING (source_a, source_b)),
       |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS p_tot,
       |    CAST(sum(universe_pairs) AS BIGINT) AS u_tot FROM grid)
       |SELECT source_a, source_b, n_pairs, universe_pairs,
       |  CASE WHEN p_tot > 0 AND universe_pairs > 0 THEN
       |    CAST(CAST(n_pairs AS HUGEINT) * u_tot * 1000000
       |      // (CAST(p_tot AS HUGEINT) * universe_pairs) AS BIGINT) END AS lift_ppm
       |FROM grid CROSS JOIN tot ORDER BY source_a, source_b""".stripMargin

  // ------- per-stratum deterministic cap (q252)
  /** Class-balanced downsampling: every (lang, source) stratum keeps
    * at most CAP documents, selected by the md5-of-id hash order — a
    * deterministic per-stratum reservoir, the "no source may dominate
    * the mix" gate that runs before token budgets (q166 water-fill
    * allocates ACROSS strata; this clips WITHIN each). Reports
    * kept/dropped docs and character mass per stratum.
    *
    * Scale shape: the kept set rides the native [[graft.plans.TopKPerKey]]
    * plan — a bounded CAP-heap per stratum per input partition, so the
    * shuffle carries ≤ CAP·partitions rows per stratum instead of the
    * stratum's whole membership (the ranking-window formulation would
    * shuffle and sort every row). Totals are one map-side-combinable
    * aggregate; the stratum axis is q248's bounded registry argument. */
  private def q252(s: SparkSession, d: String): DataFrame = {
    val cap = 10
    val docs = docs0(s, d)
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
      .withColumn("hk", md5(col("doc_id").cast("string")))
      .persistT
    val totals = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    val kept = graft.plans.TopKPerKey
      .topK(docs, Seq("lang", "source"), Seq(col("hk"), col("doc_id")), cap)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
    totals.join(kept, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("kept_chars"), col("total_chars"))
      .sortedOut("lang", "source")
  }

  private val q252Sql =
    """WITH r AS (SELECT lang, source, n_chars,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT lang, source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(count(*) - sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM r GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  // ------- near-dup cluster purity audit (q268)
  /** QUALITY of the dedup graph, not just its size: for each near-dup
    * cluster (q48's MinHash-LSH pipeline, est ≥ 0.9, union-find
    * labels), who's in it — per size band, the cluster count, how many
    * span MULTIPLE sources (the syndication/mirror signal q183
    * clusters at corpus level), and the exact dominant-source purity
    * in ppm (Σ dominant-member counts ·10⁶ div Σ sizes). A dedup
    * policy that collapses clusters to one survivor should know
    * whether it is deduping WITHIN sources (storage win) or ACROSS
    * them (provenance loss) — this is that census.
    *
    * Scale shape: everything downstream of the banded candidate
    * pipeline is (cluster, source)-grain aggregation — two map-side-
    * combinable aggs on frames bounded by the candidate-pair count;
    * text never travels. Oracle: the full signature→banding→cap→
    * union-find chain re-derived in SQL (shared CTE builders). */
  private def q268(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(docs, k = 32), bands = 4, rowsPerBand = 8,
      minEst = 0.9)
    val mem = Dedup.nearDupClusters(pairs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val per = mem.groupBy(col("cluster"), col("source"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster"))
      .agg(sum(col("cnt")).as("sz"), max(col("cnt")).as("dom"),
        count(lit(1)).as("n_sources"))
    per.withColumn("size_band", expr(
        """CASE WHEN sz = 2 THEN 'a_2' WHEN sz = 3 THEN 'b_3'
          |  WHEN sz = 4 THEN 'c_4' ELSE 'd_5plus' END""".stripMargin))
      .groupBy(col("size_band"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("n_sources") > 1, 1L).otherwise(0L)).as("n_cross_source"),
        sum(col("sz")).as("n_docs"),
        expr("sum(dom) * 1000000 div sum(sz)").as("purity_ppm"))
      .sortedOut("size_band")
  }

  private val q268Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.9),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |${componentLabelCtes()},
       |mem AS (SELECT l.cluster, d.source FROM labels l
       |  JOIN documents d ON d.doc_id = l.doc_id),
       |cs AS (SELECT cluster, source, CAST(count(*) AS BIGINT) AS cnt
       |  FROM mem GROUP BY 1, 2),
       |per AS (SELECT cluster, CAST(sum(cnt) AS BIGINT) AS sz,
       |    CAST(max(cnt) AS BIGINT) AS dom,
       |    CAST(count(*) AS BIGINT) AS n_sources
       |  FROM cs GROUP BY 1)
       |SELECT CASE WHEN sz = 2 THEN 'a_2' WHEN sz = 3 THEN 'b_3'
       |    WHEN sz = 4 THEN 'c_4' ELSE 'd_5plus' END AS size_band,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  CAST(sum(dom) * 1000000 // sum(sz) AS BIGINT) AS purity_ppm
       |FROM per GROUP BY 1 ORDER BY size_band""".stripMargin

  // ------- cross-source vocabulary overlap (q274)
  /** How much LANGUAGE do two sources share? Per source, the top-200
    * tokens by (frequency desc, token) — selected by the native
    * [[graft.plans.TopKPerKey]] bounded heap, never a source-wide
    * ranking window — then exact pairwise Jaccard over those
    * signature sets in ppm, with zero-overlap pairs kept (the full
    * pair grid is sources², a bounded registry axis). The
    * content-overlap census behind mixture design: two "different"
    * sources sharing 80% of their head vocabulary are one source for
    * diversity purposes — the corpus-level companion to per-doc
    * near-dup (q29/q48) and the input q183's communities cluster.
    *
    * Scale shape: one (source, token) census shuffle; top sets are
    * ≤ 200·|S| rows, the pair join and grid are |S|²-bounded — text
    * never travels past the first census. */
  private def q274(s: SparkSession, d: String): DataFrame = {
    val topk = 200
    val census = docs0(s, d)
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      .persistT
    val top = graft.plans.TopKPerKey.topK(census, Seq("source"),
        Seq(negate(col("cnt")), col("tok")), topk)
      .select(col("source"), col("tok")).persistT
    val sizes = top.groupBy("source").agg(count(lit(1)).as("k"))
    val inter = top
      .join(top.select(col("source").as("source_b"), col("tok")), Seq("tok"))
      .where(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    val grid = sizes.select(col("source").as("source_a"), col("k").as("k_a"))
      .join(sizes.select(col("source").as("source_b"), col("k").as("k_b")))
      .where(col("source_a") < col("source_b"))
    grid.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("k_a"), col("k_b"),
        coalesce(col("inter"), lit(0L)).as("n_shared"))
      .withColumn("jaccard_ppm",
        expr("n_shared * 1000000 div (k_a + k_b - n_shared)"))
      .sortedOut("source_a", "source_b")
  }

  private val q274Sql =
    """WITH tc AS MATERIALIZED (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |        FROM documents) u
      |  WHERE len(tok) > 0 GROUP BY 1, 2),
      |top AS MATERIALIZED (SELECT source, tok FROM (
      |    SELECT source, tok, row_number() OVER (PARTITION BY source
      |      ORDER BY cnt DESC, tok) AS rn FROM tc) r
      |  WHERE rn <= 200),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS k FROM top GROUP BY 1),
      |it AS (SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2),
      |grid AS (SELECT a.source AS source_a, a.k AS k_a, b.source AS source_b, b.k AS k_b
      |  FROM sz a JOIN sz b ON a.source < b.source)
      |SELECT source_a, source_b, k_a, k_b,
      |  CAST(coalesce(inter, 0) AS BIGINT) AS n_shared,
      |  CAST(coalesce(inter, 0) * 1000000 // (k_a + k_b - coalesce(inter, 0)) AS BIGINT) AS jaccard_ppm
      |FROM grid LEFT JOIN it USING (source_a, source_b)
      |ORDER BY source_a, source_b""".stripMargin

  // ------- out-of-vocabulary rate census (q275)
  /** The tokenizer-coverage gate: fix the vocabulary at the global
    * top-1000 tokens (cnt desc, token tie-break — a
    * TakeOrderedAndProject, never a full sort) and census every
    * (lang, source) stratum's OOV exposure — token occurrences
    * outside the vocabulary, distinct OOV types, and the rate in
    * exact ppm. High-OOV strata are where a fixed-vocab model's
    * UNK mass will concentrate; this is the per-stratum number a
    * mixture designer reads next to q212's language TVD.
    *
    * Scale shape: one (stratum, token)-grain pass; the 1000-row vocab
    * BROADCASTS into the left join (never a shuffle by token), and
    * the stratum rollup is map-side-combinable. */
  private def q275(s: SparkSession, d: String): DataFrame = {
    val vocabSize = 1000
    val toks = docs0(s, d)
      .select(col("lang"), col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .persistT
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        countDistinct(when(col("in_v").isNull, col("tok"))).as("oov_types"))
      .withColumn("oov_ppm", expr("oov_tokens * 1000000 div n_tokens"))
      .sortedOut("lang", "source")
  }

  private val q275Sql =
    """WITH tk AS MATERIALIZED (SELECT lang, source, tok FROM (
      |    SELECT lang, source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) u WHERE len(tok) > 0),
      |v AS (SELECT tok FROM (
      |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
      |    FROM tk GROUP BY tok) r WHERE rn <= 1000)
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
      |  CAST(count(DISTINCT CASE WHEN v.tok IS NULL THEN tk.tok END) AS BIGINT) AS oov_types,
      |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS oov_ppm
      |FROM tk LEFT JOIN v ON tk.tok = v.tok
      |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  // ------- feature-hashing collision audit (q276)
  /** What does the hashing trick actually COST on this vocabulary?
    * Bucket every distinct token by md5-60(token) mod 2^b for
    * b ∈ {12, 16} (the engine-wide oracle-reproducible hash) and
    * census the collisions: buckets used, buckets holding ≥ 2 types,
    * types implicated, and — the number that matters for model
    * quality — the share of token OCCURRENCE mass sitting in collided
    * buckets, in exact ppm. The audit a feature-hashed model runs
    * before choosing its width; doubling b should visibly collapse
    * the collided-mass share.
    *
    * Scale shape: one token census shuffle, then per-b map-side
    * bucket rollups over the census — the text column never leaves
    * the first aggregate, and each leg's output is one row. */
  private def q276(s: SparkSession, d: String): DataFrame = {
    val census = docs0(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("m"))
      .withColumn("h", Hashing.h60(col("tok")))
      .persistT
    def leg(bBits: Int): DataFrame = {
      val b = 1L << bBits
      census.groupBy(pmod(col("h"), lit(b)).as("bucket"))
        .agg(count(lit(1)).as("types"), sum(col("m")).as("mass"))
        .agg(count(lit(1)).as("buckets_used"),
          sum(col("types")).as("n_types"),
          sum(col("mass")).as("n_occ"),
          sum(when(col("types") > 1, 1L).otherwise(0L)).as("buckets_collided"),
          sum(when(col("types") > 1, col("types")).otherwise(0L)).as("types_collided"),
          sum(when(col("types") > 1, col("mass")).otherwise(0L)).as("mass_collided"))
        .select(lit(b).as("n_buckets"), col("buckets_used"), col("n_types"),
          col("buckets_collided"), col("types_collided"),
          expr("mass_collided * 1000000 div n_occ").as("collided_mass_ppm"))
    }
    leg(12).unionByName(leg(16)).sortedOut("n_buckets")
  }

  private val q276Sql = {
    def leg(b: Long): String =
      s"""SELECT CAST($b AS BIGINT) AS n_buckets,
         |  CAST(count(*) AS BIGINT) AS buckets_used,
         |  CAST(sum(types) AS BIGINT) AS n_types,
         |  CAST(sum(CASE WHEN types > 1 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_collided,
         |  CAST(sum(CASE WHEN types > 1 THEN types ELSE 0 END) AS BIGINT) AS types_collided,
         |  CAST(sum(CASE WHEN types > 1 THEN mass ELSE 0 END) * 1000000 // sum(mass) AS BIGINT) AS collided_mass_ppm
         |FROM (SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $b AS bucket,
         |        CAST(count(*) AS BIGINT) AS types, CAST(sum(m) AS BIGINT) AS mass
         |      FROM tcensus GROUP BY 1) g""".stripMargin
    s"""WITH tcensus AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS m
       |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |        FROM documents) u
       |  WHERE len(tok) > 0 GROUP BY 1)
       |${leg(4096)}
       |UNION ALL
       |${leg(65536)}
       |ORDER BY n_buckets""".stripMargin
  }

  // ------- exact-substring duplicated spans (q277)
  /** The variable-length exact-substring dedup census
    * ([[graft.dedup.Dedup.dupSpans]], Lee et al. 2021): every maximal
    * token span of ≥ 8 tokens that also appears verbatim in another
    * document — the spans q72's n-gram stats and q90's fixed-window
    * chunks cannot see as ONE unit. minLen = 8 on the fixture's word
    * salad keeps noise-grams out (8-token collisions need a shared
    * template) while the near-dup families' 200-word shared templates
    * surface as single long spans.
    *
    * Scale shape: window hashes are a pure projection; ONE
    * hash-partitioned census (a boilerplate window in a billion docs is
    * one row, never a pair set); the island merge windows per doc. */
  private def q277(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpans(docs0(s, d), minLen = 8)
      .sortedOut("doc_id", "span_start")

  private val q277Sql =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |g AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 8 + 1)) AS i
      |        FROM toks WHERE len(ts) >= 8) u),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |s AS (SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM g JOIN d USING (gram))
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
      |  CAST(count(*) AS BIGINT) AS n_windows
      |FROM s GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin

  // ------- per-document span-dedup exposure census (q278)
  /** What q277's spans COST per document: for every doc carrying at
    * least one duplicated span, the span count, duplicated-token total
    * (Σ span_len — spans are maximal and disjoint by construction, so
    * the sum never double-counts), the doc's token count, and the
    * duplicated share in exact ppm. The per-doc number a span-level
    * scrubbing pass (cut the spans, keep the rest) budgets with —
    * doc-grain where q242 prices doc-DROPPING policies.
    *
    * Scale shape: q277's plan plus one doc-grain rollup and a join to
    * the token-count projection — nothing new shuffles text. */
  private def q278(s: SparkSession, d: String): DataFrame = {
    val spans = Dedup.dupSpans(docs0(s, d), minLen = 8)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_tokens"))
    val nTok = docs0(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    spans.join(nTok, Seq("doc_id"))
      .withColumn("dup_ppm", expr("dup_tokens * 1000000 div n_tokens"))
      .sortedOut("doc_id")
  }

  private val q278Sql =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |g AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 8 + 1)) AS i
      |        FROM toks WHERE len(ts) >= 8) u),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |s AS (SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM g JOIN d USING (gram)),
      |sp AS (SELECT doc_id, max(pos) - min(pos) + 8 AS span_len
      |  FROM s GROUP BY doc_id, grp),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(span_len) AS BIGINT) AS dup_tokens
      |  FROM sp GROUP BY doc_id)
      |SELECT a.doc_id, a.n_spans, a.dup_tokens,
      |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
      |  CAST(a.dup_tokens * 1000000 // len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS dup_ppm
      |FROM agg a JOIN documents USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------- template-breadth census (q279)
  /** HOW WIDESPREAD is each duplicated 8-token template? Census of
    * q277's window hashes by document breadth: templates shared by
    * exactly 2 docs vs 3–4 vs 5+, with the template count, total
    * occurrences, and the widest template's breadth per band. The
    * boilerplate-vs-pairwise-copy diagnostic: a license header shared
    * by a million docs and a single plagiarized paragraph are both
    * "duplicated spans" — this is the operator that tells them apart
    * (and the pre-flight for exempting boilerplate from span
    * scrubbing, the Lee et al. practical note).
    *
    * Scale shape: the same ONE gram census as q277 — breadth bands are
    * a second map-side rollup over (gram, n_docs, n_occ) rows; output
    * is ≤ 3 rows. */
  private def q279(s: SparkSession, d: String): DataFrame = {
    val grams = docs0(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 8)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ts")) - 8),
        i => md5(array_join(slice(col("ts"), i + 1, lit(8)), " ")))).as("gram"))
    grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)
      .groupBy(expr(
        """CASE WHEN n_docs = 2 THEN 'a_pair'
          |  WHEN n_docs <= 4 THEN 'b_3_4'
          |  ELSE 'c_5plus' END""".stripMargin).as("breadth_band"))
      .agg(count(lit(1)).as("n_templates"), sum(col("n_occ")).as("n_occurrences"),
        max(col("n_docs")).as("max_breadth"))
      .sortedOut("breadth_band")
  }

  private[queries] val q279Sql =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |g AS (SELECT doc_id,
      |    md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 8 + 1)) AS i
      |        FROM toks WHERE len(ts) >= 8) u),
      |c AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(count(*) AS BIGINT) AS n_occ
      |  FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
      |SELECT CASE WHEN n_docs = 2 THEN 'a_pair'
      |    WHEN n_docs <= 4 THEN 'b_3_4'
      |    ELSE 'c_5plus' END AS breadth_band,
      |  CAST(count(*) AS BIGINT) AS n_templates,
      |  CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
      |  CAST(max(n_docs) AS BIGINT) AS max_breadth
      |FROM c GROUP BY 1 ORDER BY breadth_band""".stripMargin

  // ------- incremental span decontamination (q280)
  /** [[graft.dedup.Dedup.dupSpansAgainst]] on the fixture's batch
    * convention: docs with doc_id % 10 == 0 are the ARRIVING shard,
    * the rest the standing corpus; every maximal ≥ 8-token span of the
    * shard that already exists verbatim in the corpus is reported —
    * the exact-substring decontamination screen run before a new crawl
    * shard joins the training set (q74/q102's n-gram screens answer
    * "does it overlap"; this answers "exactly WHERE and HOW MUCH").
    *
    * Scale shape: corpus text never shuffles — it collapses to ONE
    * distinct-gram set the shard left-semi joins against; islands
    * merge per shard doc. */
  private def q280(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    Dedup.dupSpansAgainst(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0), minLen = 8)
      .sortedOut("doc_id", "span_start")
  }

  private val q280Sql =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |g AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 8 + 1)) AS i
      |        FROM toks WHERE len(ts) >= 8) u),
      |cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0),
      |s AS (SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM g JOIN cg USING (gram) WHERE doc_id % 10 = 0)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
      |  CAST(count(*) AS BIGINT) AS n_windows
      |FROM s GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin

  // ------- tokenizer fertility census (q281)
  /** How many SUBWORD units does each stratum cost per whitespace
    * word? Per (lang, source): whitespace tokens, BPE-style pretokens
    * (letter runs | digit runs | single symbols — the q66 units), and
    * fertility in exact milli-units (pretokens·1000 div words) plus
    * the character payload per pretoken. THE number a token-budget
    * planner reads per stratum: two corpora with equal word counts can
    * differ 2× in model tokens, and fertility is where that shows
    * before any tokenizer is trained — the stratum-grain companion to
    * q66's per-doc ratio and q71's mixture weights.
    *
    * Scale shape: one documents pass, all counters map-side
    * combinable into a ≤|lang×source| rollup; nothing but the
    * bounded census shuffles. */
  private def q281(s: SparkSession, d: String): DataFrame =
    docs0(s, d)
      .select(col("lang"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("ws"),
        size(TextFunctions.bpeTokens(col("text"))).cast("long").as("bpe"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_words"),
        sum(col("bpe")).as("n_pretokens"), sum(col("chars")).as("n_chars"))
      .withColumn("fertility_milli", expr("n_pretokens * 1000 div n_words"))
      // nullif: an all-empty stratum has ZERO pretokens, and ANSI-mode
      // `div` throws on 0 — the ratio must be NULL there (oracle NULLIF
      // twin; EdgeCasesSpec pins it)
      .withColumn("chars_per_pretoken_milli",
        expr("n_chars * 1000 div nullif(n_pretokens, 0)"))
      .sortedOut("lang", "source")

  private val q281Sql =
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS n_words,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_pretokens,
      |  CAST(sum(length(regexp_replace(text, '\s', '', 'g'))) AS BIGINT) AS n_chars,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) * 1000
      |    // sum(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS fertility_milli,
      |  CAST(sum(length(regexp_replace(text, '\s', '', 'g'))) * 1000
      |    // NULLIF(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))), 0) AS BIGINT) AS chars_per_pretoken_milli
      |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  // ------- span scrubbing, one canonical copy kept (q282)
  /** [[graft.dedup.Dedup.spanScrub]] at minLen = 8: the REWRITE the
    * q277/q278 censuses price — duplicated spans removed from every
    * doc except the minimum-doc_id owner of each window template, one
    * row per scrubbed doc with the kept share and the md5 of the
    * scrubbed token sequence (full rewrite semantics, hashed). */
  private def q282(s: SparkSession, d: String): DataFrame =
    Dedup.spanScrub(docs0(s, d), minLen = 8).sortedOut("doc_id")

  private val q282Sql =
    """WITH toks0 AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |tok AS MATERIALIZED (SELECT doc_id, i AS pos, ts[CAST(i + 1 AS INTEGER)] AS tok
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts))) AS i FROM toks0) u),
      |g AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 8 + 1)) AS i
      |        FROM toks0 WHERE len(ts) >= 8) u),
      |o AS (SELECT gram, min(doc_id) AS owner FROM g
      |  GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |rm AS (SELECT DISTINCT s.doc_id, s.pos + ofs AS pos
      |  FROM (SELECT g.doc_id, g.pos FROM g JOIN o USING (gram)
      |        WHERE g.doc_id <> o.owner) s,
      |       (SELECT unnest(range(8)) AS ofs) off),
      |agg AS (SELECT t.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN rm.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    md5(coalesce(string_agg(CASE WHEN rm.pos IS NULL THEN t.tok END, ' ' ORDER BY t.pos), '')) AS scrubbed_hash
      |  FROM tok t LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.pos = t.pos
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_tokens, n_removed,
      |  CAST((n_tokens - n_removed) * 1000000 // n_tokens AS BIGINT) AS kept_ppm,
      |  scrubbed_hash
      |FROM agg WHERE n_removed > 0 ORDER BY doc_id""".stripMargin

  // ------- standing gram-index span probe (q283)
  /** q280's spans served from the STANDING [[graft.dedup.GramIndex]]:
    * the corpus's distinct gram set is materialized ONCE as a bucketed
    * table and every arriving shard probes it with an exchange-free
    * semi-join — probe cost proportional to the SHARD, never the
    * corpus (the q86 serving contract applied to exact-substring
    * decontamination). Same split, same output contract, same ORACLE
    * as q280 — the driver's compare pins index-served ≡ recomputed. */
  private def q283(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val spec = graft.dedup.GramIndex.Spec(minLen = 8, buckets = 8)
    val name = "q283_gramidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(name + "_grams"))
      graft.dedup.GramIndex.write(docs.where(col("doc_id") % 10 =!= 0), name, spec)
    graft.dedup.GramIndex.probe(s, docs.where(col("doc_id") % 10 === 0), name, spec)
      .sortedOut("doc_id", "span_start")
  }

  // ------- point-in-time (as-of) gram-index probe (q305)
  /** "Probe the corpus AS OF append N" — served from the history the
    * segment ids already encode (VERDICT r15 #10): the corpus lands in
    * three appends (doc_id % 3 == 0 at write, % 3 == 1 as append 1,
    * % 3 == 2 as append 2) and the shard probes AS OF append 1 — the
    * result must equal probing an index that never saw the third
    * batch, so the oracle is q280's SQL with the corpus cut to
    * % 3 <> 2. Time-travel is a segment FILTER, no extra storage, and
    * lasts until compaction folds the cut away: a folded base, a
    * straddling merged delta, or a standing takedown each refuse
    * loudly rather than approximate (GramIndexSpec pins all three).
    * Scale shape: identical to q283 — the as-of cut only selects which
    * segment tables join; probe cost ∝ shard, never corpus. */
  private def q305(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val spec = graft.dedup.GramIndex.Spec(minLen = 8, buckets = 8)
    val name = "q305_asofidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(name + "_grams")) {
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      graft.dedup.GramIndex.write(corpus.where(col("doc_id") % 3 === 0), name, spec)
      graft.dedup.GramIndex.append(corpus.where(col("doc_id") % 3 === 1), name, spec)
      graft.dedup.GramIndex.append(corpus.where(col("doc_id") % 3 === 2), name, spec)
    }
    graft.dedup.GramIndex.probeAsOf(s, docs.where(col("doc_id") % 10 === 0),
        name, asOf = 1L, spec)
      .sortedOut("doc_id", "span_start")
  }

  private val q305Sql = q280Sql.replace(
    "cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0)",
    "cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0 AND doc_id % 3 <> 2)")

  // ------- incremental span scrubbing against the standing index (q286)
  /** q282's REWRITE served incrementally: an arriving shard (doc_id %
    * 10 == 0) is scrubbed against the standing corpus WITHOUT re-
    * shuffling the corpus — [[graft.dedup.GramIndex.scrubProbe]], the
    * (gram, owner) index's reason to exist (VERDICT r12 #4: bare grams
    * can census a shard, q280/q283, but cannot SCRUB one, because
    * ownership would need a full corpus re-derivation). Semantics are
    * pinned two ways: GramIndexSpec proves scrubProbe ≡ spanScrub on
    * the union restricted to batch docs, and the ORACLE here is
    * exactly the q282 oracle with the batch restriction — so the
    * incremental path must reproduce the batch rows of the full
    * rewrite bit-for-bit (owners min-merged across index appends).
    *
    * Scale shape: shard gram'd and censused (∝ shard); index owners
    * fetched by a bucket-layout semi-restriction (∝ matched rows);
    * doc-grain rewrite of affected docs only
    * ([[graft.dedup.Dedup.scrubRewrite]]). */
  private def q286(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val spec = graft.dedup.GramIndex.Spec(minLen = 8, buckets = 8)
    val name = "q286_scrubidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(name + "_grams"))
      graft.dedup.GramIndex.write(docs.where(col("doc_id") % 10 =!= 0), name, spec)
    graft.dedup.GramIndex.scrubProbe(s, docs.where(col("doc_id") % 10 === 0), name, spec)
      .sortedOut("doc_id")
  }

  /** q282's oracle restricted to the batch docs — the union-vs-
    * incremental equivalence IS the tested contract, so the SQL is the
    * q282 text with the shard filter on the final projection. */
  private val q286Sql = q282Sql.replace(
    "FROM agg WHERE n_removed > 0 ORDER BY doc_id",
    "FROM agg WHERE n_removed > 0 AND doc_id % 10 = 0 ORDER BY doc_id")

  // ------- distributed BPE merge training (q287)
  /** The first 8 BPE merges learned fully DISTRIBUTED
    * ([[graft.text.Bpe.fitDistributedTable]]): one corpus pass builds
    * the pretoken-type vocabulary, then each round is a vocabulary-
    * bounded pair census + 1-row argmax + map-side fold — the type
    * table is never collected (the 100 TB twin of `Bpe.fit`, whose
    * driver loop feeds q104's encoder; BpeSpec pins the two merge
    * tables equal). The ORACLE replays the whole training loop: 8
    * unrolled census→argmax→merge rounds over a control-character-
    * delimited symbol string, where `replace` performs exactly the
    * left-to-right non-overlapping merge the engine's fold does — the
    * merge LOOP itself is exact-verified, not just the final encoding
    * invariants. */
  private def q287(s: SparkSession, d: String): DataFrame =
    graft.text.Bpe.fitDistributedTable(docs0(s, d), numMerges = 8)
      .sortedOut("merge_step")

  private val q287Sql = {
    val k = 8
    val sb = new StringBuilder
    sb.append(
      """WITH pre AS MATERIALIZED (
        |  SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS t
        |    FROM documents) u
        |  WHERE length(t) <= 256 GROUP BY t),
        |s0 AS MATERIALIZED (
        |  SELECT chr(1) || array_to_string(list_transform(range(1, length(t) + 1),
        |    i -> substr(t, CAST(i AS INT), 1)), chr(2) || chr(1)) || chr(2) AS s, cnt
        |  FROM pre)""".stripMargin)
    for (j <- 1 to k) {
      val prev = s"s${j - 1}"
      sb.append(s""",
        |c$j AS (
        |  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i + 1 AS INT)] AS r,
        |    CAST(sum(cnt) AS BIGINT) AS pc
        |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), chr(2) || chr(1)) AS syms, cnt
        |        FROM $prev) v, unnest(range(1, len(syms))) AS u(i)
        |  GROUP BY 1, 2),
        |w$j AS MATERIALIZED (SELECT l, r, pc FROM c$j WHERE pc >= 2
        |  ORDER BY pc DESC, l, r LIMIT 1),
        |s$j AS MATERIALIZED (
        |  SELECT replace(s, chr(1) || l || chr(2) || chr(1) || r || chr(2),
        |    chr(1) || l || r || chr(2)) AS s, cnt
        |  FROM $prev, w$j)""".stripMargin)
    }
    sb.append("\n" + (1 to k).map(j =>
      s"SELECT CAST($j AS BIGINT) AS merge_step, l AS lhs, r AS rhs, " +
        s"l || r AS merged, pc AS pair_count FROM w$j")
      .mkString("", "\nUNION ALL\n", "\nORDER BY merge_step"))
    sb.toString
  }

  // ------- span-scrub savings curve (q291)
  /** The THRESHOLD-TUNING table for span dedup — q242's policy curve
    * at span grain: for minimum span lengths 8 / 16 / 32, how many
    * documents carry duplicated spans, how many tokens a scrub at that
    * grain reclaims (Σ span_len over [[graft.dedup.Dedup.dupSpans]]'s
    * maximal disjoint islands), and the corpus share in exact ppm.
    * Lee et al. tune exactly this knob: too short scrubs idiom, too
    * long misses templates — this is the table that choice reads.
    *
    * Scale shape: ONE L-tagged span census for all three thresholds
    * ([[Dedup.dupSpansMulti]] — r17: the per-threshold legs each
    * re-tokenized the corpus and paid their own census exchange +
    * islands window; fused they share one of each), collapsing to a
    * ≤3-row aggregate. Empty thresholds coalesce to 0 via the literal
    * threshold axis (a corpus with no 32-token templates is routine). */
  private def q291(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val total = docs.agg(
      sum(TextFunctions.tokenCount(col("text")).cast("long")).as("corpus_tokens"))
    val lens = Seq(8, 16, 32)
    val axis = lens.map(L => s.range(1).select(lit(L).as("min_len")))
      .reduce(_ unionByName _)
    val per = Dedup.dupSpansMulti(docs, lens)
      .groupBy("min_len")
      .agg(countDistinct(col("doc_id")).as("nda"), sum(col("span_len")).as("dt"))
    axis.join(per, Seq("min_len"), "left_outer")
      .crossJoin(total)
      .select(col("min_len").cast(LongType).as("min_len"),
        coalesce(col("nda"), lit(0L)).as("n_docs_affected"),
        coalesce(col("dt"), lit(0L)).as("dup_tokens"),
        col("corpus_tokens"),
        expr("coalesce(dt, CAST(0 AS BIGINT)) * 1000000 div corpus_tokens").as("dup_ppm"))
      .sortedOut("min_len")
  }

  private val q291Sql = {
    def leg(l: Int): String =
      s"""g$l AS (SELECT doc_id, i AS pos,
         |    md5(array_to_string(list_slice(ts, i + 1, i + $l), ' ')) AS gram
         |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - $l + 1)) AS i
         |        FROM toks WHERE len(ts) >= $l) u),
         |d$l AS (SELECT gram FROM g$l GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |s$l AS (SELECT doc_id, max(pos) - min(pos) + $l AS span_len FROM (
         |    SELECT doc_id, pos,
         |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |    FROM g$l JOIN d$l USING (gram)) i GROUP BY doc_id, grp),
         |sv$l AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
         |    CAST(coalesce(sum(span_len), 0) AS BIGINT) AS dup_tokens FROM s$l)""".stripMargin
    def row(l: Int): String =
      s"""SELECT CAST($l AS BIGINT) AS min_len, n_docs_affected, dup_tokens,
         |  corpus_tokens, CAST(dup_tokens * 1000000 // corpus_tokens AS BIGINT) AS dup_ppm
         |FROM sv$l, tot""".stripMargin
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ts
       |  FROM documents),
       |tot AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS corpus_tokens FROM toks),
       |${Seq(8, 16, 32).map(leg).mkString(",\n")}
       |${Seq(8, 16, 32).map(row).mkString("\nUNION ALL\n")}
       |ORDER BY min_len""".stripMargin
  }

  // ------- dedup-threshold savings curve (q242)
  /** The POLICY-TUNING view of the near-dup family: for candidate
    * Jaccard thresholds 0.5 / 0.7 / 0.9, how many candidate pairs
    * survive, how many docs a keep-lowest-id pass would drop (distinct
    * doc_b over surviving pairs — the upper bound the cluster pass
    * q48 then tightens), and the token mass those docs carry. This is
    * the table that prices a threshold choice in training tokens
    * BEFORE committing the full dedup run — the knob q154's
    * calibration curve sets from the other side (recall).
    *
    * One candidate generation (banded, skew-capped, q29's machinery)
    * feeds all three thresholds; each arm is a filter + two
    * map-side-combinable folds on the pair/doc grain. est = m/32 and
    * pct/100 are the same IEEE doubles in both engines, so the ≥ cut
    * is bit-portable. */
  private def q242(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs, k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.5)
      .persistT
    val nTok = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
    // r16: TWO aggregate passes over the persisted pair set instead of
    // three per-threshold (filter + distinct + join + 2 aggs) rounds —
    // a doc_b is removed at threshold t iff max(est over its pairs) >= t,
    // so one per-doc rollup answers all three thresholds at once.
    // Identical comparisons (t = pct/100.0 on the same doubles),
    // identical zero semantics (coalesce where the empty frame gave
    // count()=0). Oracle SQL unchanged.
    val ths = Seq(50, 70, 90)
    val pairCounts = pairs.agg(
      coalesce(sum(when(col("est_jaccard") >= lit(ths.head / 100.0), 1L).otherwise(0L)), lit(0L)).as(s"np${ths.head}"),
      ths.tail.map(p => coalesce(sum(when(col("est_jaccard") >= lit(p / 100.0), 1L).otherwise(0L)), lit(0L)).as(s"np$p")): _*)
    val perB = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(max(col("est_jaccard")).as("m"))
      .join(nTok, Seq("doc_id"))
    val removed = perB.agg(
      coalesce(sum(when(col("m") >= lit(ths.head / 100.0), 1L).otherwise(0L)), lit(0L)).as(s"nd${ths.head}"),
      (ths.tail.map(p => coalesce(sum(when(col("m") >= lit(p / 100.0), 1L).otherwise(0L)), lit(0L)).as(s"nd$p")) ++
        ths.map(p => coalesce(sum(when(col("m") >= lit(p / 100.0), col("n_tok")).otherwise(0L)), lit(0L)).as(s"tk$p"))): _*)
    pairCounts.crossJoin(removed)
      .select(expr(ths.map(p => s"${p}L, np$p, nd$p, tk$p").mkString(
        s"stack(${ths.size}, ", ", ",
        ") as (threshold_pct, n_pairs, n_docs_removed, tokens_removed)")))
      .sortedOut("threshold_pct")
  }

  private lazy val q242Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |nt AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |th(threshold_pct) AS (VALUES (CAST(50 AS BIGINT)), (CAST(70 AS BIGINT)), (CAST(90 AS BIGINT))),
       |sel AS (SELECT th.threshold_pct, est.doc_a, est.doc_b FROM est CROSS JOIN th
       |        WHERE est_jaccard >= CAST(threshold_pct AS DOUBLE) / 100),
       |p AS (SELECT threshold_pct, CAST(count(*) AS BIGINT) AS n_pairs FROM sel GROUP BY 1),
       |rem AS (SELECT DISTINCT threshold_pct, doc_b FROM sel),
       |r AS (SELECT threshold_pct, CAST(count(*) AS BIGINT) AS n_docs_removed,
       |        CAST(sum(n_tok) AS BIGINT) AS tokens_removed
       |      FROM rem JOIN nt ON nt.doc_id = rem.doc_b GROUP BY 1)
       |SELECT th.threshold_pct,
       |  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(r.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
       |  CAST(coalesce(r.tokens_removed, 0) AS BIGINT) AS tokens_removed
       |FROM th LEFT JOIN p USING (threshold_pct) LEFT JOIN r USING (threshold_pct)
       |ORDER BY threshold_pct""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q242_dedup_savings", q242 _, Some(q242Sql)),
    ("q153_er_blocking",       q153 _, Some(q153Sql)),
    ("q154_minhash_calibration", q154 _, Some(q154Sql)),
    ("q157_preference_pairs",  q157 _, Some(q157Sql)),
    ("q158_drop_reasons",      q158 _, Some(q158Sql)),
    ("q159_vocab_growth",      q159 _, Some(q159Sql)),
    ("q160_quality_survivor",  q160 _, Some(q160Sql)),
    ("q161_classifier_auc",    q161 _, Some(q161Sql)),
    ("q163_dataset_card",      q163 _, Some(q163Sql)),
    ("q164_dupgraph_transitivity", q164 _, Some(q164Sql)),
    ("q166_token_budget",      q166 _, Some(q166Sql)),
    ("q169_source_score_norm", q169 _, Some(q169Sql)),
    ("q170_dup_direction",     q170 _, Some(q170Sql)),
    ("q171_quality_lorenz",    q171 _, Some(q171Sql)),
    ("q173_length_match_resample", q173 _, Some(q173Sql)),
    ("q174_spearman_signals",  q174 _, Some(q174Sql)),
    ("q175_negative_sampling", q175 _, Some(q175Sql)),
    ("q178_survivor_remap",    q178 _, Some(q178Sql)),
    ("q179_phrase_search",     q179 _, Some(q179Sql)),
    ("q180_sparse_cosine_join", q180 _, Some(q180Sql)),
    ("q182_boilerplate_extract", q182 _, Some(q182Sql)),
    ("q183_syndication_communities", q183 _, Some(q183Sql)),
    ("q196_ppjoin_exact", q196 _, Some(q196Sql)),
    ("q201_typo_join", q201 _, Some(q201Sql)),
    ("q245_split_leakage", q245 _, Some(q245Sql)),
    ("q246_freq_spectrum", q246 _, Some(q246Sql)),
    ("q248_dup_affinity", q248 _, Some(q248Sql)),
    ("q252_stratum_cap", q252 _, Some(q252Sql)),
    ("q274_source_vocab_overlap", q274 _, Some(q274Sql)),
    ("q275_oov_census", q275 _, Some(q275Sql)),
    ("q276_hash_collision_audit", q276 _, Some(q276Sql)),
    ("q277_dup_spans", q277 _, Some(q277Sql)),
    ("q278_span_census", q278 _, Some(q278Sql)),
    ("q279_template_breadth", q279 _, Some(q279Sql)),
    ("q280_span_decontam", q280 _, Some(q280Sql)),
    ("q281_bpe_fertility", q281 _, Some(q281Sql)),
    ("q282_span_scrub", q282 _, Some(q282Sql)),
    ("q283_gram_index_probe", q283 _, Some(q280Sql)),
    ("q305_asof_index_probe", q305 _, Some(q305Sql)),
    ("q286_incremental_scrub", q286 _, Some(q286Sql)),
    ("q287_bpe_merge_table", q287 _, Some(q287Sql)),
    ("q291_span_savings_curve", q291 _, Some(q291Sql)),
    ("q268_cluster_purity", q268 _, Some(q268Sql)))
}
