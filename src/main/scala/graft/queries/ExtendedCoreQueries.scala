package graft.queries

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.RelationalOps
import graft.sim.IvfIndex
import graft.text.TextFunctions

/** Extended coverage, first wave (q39-q148 range): pivot/cube/percentiles,
  * as-of join, batch sessionization, sketches, SCD2, retention - split
  * out of the former ExtendedQueries mega-file (VERDICT r11 #6); query
  * names, bodies, and oracles are unchanged.
  */
object ExtendedCoreQueries {
  import ParityQueries.{Q, SortedOutOps}

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)
  private def d184(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))
  /** Final output cast: exact decimal -> double (ParityQueries policy). */
  private def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  // ------------------------------------------------------------- pivot
  private def q39(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dbl(sum(d184(col("o_totalprice")))))
      .sortedOut("yr")

  private val q39Sql =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      | CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS F,
      | CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS O,
      | CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS P
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  // -------------------------------------------------------------- cube
  /** Cube over the (flag, status) PRE-AGGREGATE, not the raw rows
    * (guide §2.3 aggregate before you shuffle): CUBE expands every
    * input row once per grouping set BEFORE the partial aggregate, so
    * cubing the fact table pays a 4x row expansion over the corpus.
    * The fine-grain groupBy collapses the corpus first (map-side
    * combinable, one exchange of |domain| rows) and the cube expands
    * only the 9-row partial frame. count = sum of partial counts and
    * the decimal partial sums re-sum exactly (decimal addition is
    * associative), so every output cell is bit-identical — the r17
    * interleaved A/B read 1.45 -> 0.78 s. */
  private def q40(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pn"), sum(d184(col("l_discount"))).as("pd"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pn")).as("n"), dbl(sum(col("pd"))).as("sum_disc"))
      .sortedOut(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q40Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------ exact percentiles
  /** Exact interpolated percentiles over an int column — both engines
    * interpolate in double from exact ints, so values agree bitwise.
    *
    * SCALE CAVEAT: Spark's exact `percentile` collects every value of
    * the group into ONE aggregation buffer — here bounded by the
    * per-brand group size, but a production pipeline over unbounded
    * groups uses `approx_percentile` (mergeable constant-memory
    * sketch); this exact form is the verification twin, the same
    * exact-vs-sketch split CountMin documents for heavy hitters. */
  private def q41(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .groupBy("p_brand")
      .agg(percentile(col("p_size"), lit(0.5)).cast(DecimalType(18, 6)).cast(DoubleType).as("median_size"),
           percentile(col("p_size"), lit(0.9)).cast(DecimalType(18, 6)).cast(DoubleType).as("p90_size"),
           count(lit(1)).as("n"))
      .sortedOut("p_brand")

  private val q41Sql =
    """SELECT p_brand,
      | CAST(CAST(quantile_cont(p_size, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS median_size,
      | CAST(CAST(quantile_cont(p_size, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS p90_size,
      | count(*) AS n
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ------------------------- mergeable quantile sketch + contract (q186)
  /** The QUANTILE member of the sketch family (HLL distinct q46/q55,
    * Count-Min frequency q81, Bloom membership q102): Spark's
    * `percentile_approx` (KLL-style mergeable sketch — per-partition
    * sketches, map-side combined, constant memory) at accuracy 1000,
    * VERIFIED IN-PLAN against exact ranks: a reported value v for
    * percentile p must satisfy
    * `count(x < v) ≤ p·N + N/acc` and `count(x ≤ v) ≥ p·N − N/acc`
    * (the sketch's rank-error guarantee). Sketch values themselves are
    * implementation-defined, so — the q46/q55 discipline — the output
    * carries the CONTRACT booleans plus the exact percentiles through
    * the q41 DECIMAL(18,6) bridge, never the raw sketch values.
    *
    * Scale shape: this is what replaces q41's exact sort-based
    * percentile at 100 TB — the sketch pass ships ~O(acc) counters per
    * partition instead of buffering the column; the exact pass here is
    * the fixture-scale verification twin. */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_extendedprice").cast(DoubleType).as("x")).persistT
    val sk = li.agg(
      percentile_approx(col("x"), array(lit(0.5), lit(0.95), lit(0.99)),
        lit(1000)).as("approx"),
      count(lit(1)).as("n"))
      .select(element_at(col("approx"), 1).as("v50"),
        element_at(col("approx"), 2).as("v95"),
        element_at(col("approx"), 3).as("v99"), col("n"))
    val eps = 0.001 // 1/accuracy
    def ok(p: Double, v: String) =
      (sum(when(col("x") < col(v), 1L).otherwise(0L)).cast(DoubleType)
        <= lit(p) * col("n") + lit(eps) * col("n")) &&
      (sum(when(col("x") <= col(v), 1L).otherwise(0L)).cast(DoubleType)
        >= lit(p) * col("n") - lit(eps) * col("n"))
    // ONE percentile buffer for all three points (array form) — three
    // scalar percentile aggregates buffer the column three times (the
    // q83 lesson; measured 5.8 s → the array form collapses it)
    val exact = li.agg(percentile(col("x"),
        array(lit(0.5), lit(0.95), lit(0.99))).as("ps"))
      .select(
        element_at(col("ps"), 1).cast(DecimalType(18, 6)).cast(DoubleType).as("exact_p50"),
        element_at(col("ps"), 2).cast(DecimalType(18, 6)).cast(DoubleType).as("exact_p95"),
        element_at(col("ps"), 3).cast(DecimalType(18, 6)).cast(DoubleType).as("exact_p99"))
    li.crossJoin(broadcast(sk))
      .groupBy(col("n"))
      .agg(ok(0.5, "v50").as("sk50_ok"), ok(0.95, "v95").as("sk95_ok"),
        ok(0.99, "v99").as("sk99_ok"))
      .crossJoin(broadcast(exact))
      .select(col("n"), col("exact_p50"), col("exact_p95"), col("exact_p99"),
        col("sk50_ok"), col("sk95_ok"), col("sk99_ok"))
  }

  private val q186Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      | CAST(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS exact_p50,
      | CAST(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS exact_p95,
      | CAST(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS DECIMAL(18,6)) AS DOUBLE) AS exact_p99,
      | true AS sk50_ok, true AS sk95_ok, true AS sk99_ok
      |FROM lineitem""".stripMargin

  // ------------------------------------------------------ as-of join
  /** Attribution as-of: for each purchase event, the latest click of the
    * same user at or before it (union+window — no fan-out join). */
  private def q42(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "ts", "user_id")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    RelationalOps.asofJoinLatest(purchases, clicks, "user_id", "ts", "ts",
        rightCols = Seq("ts", "event_id"))
      .where(col("asof").isNotNull)
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_millis(col("ts")).as("p_ms"),
        col("asof.event_id").as("c_id"),
        unix_millis(col("asof.ts")).as("c_ms"))
      .sortedOutWide("p_id")
  }

  private val q42Sql =
    """SELECT user_id, p_id, p_ms, c_id, c_ms FROM (
      | SELECT p.user_id, p.event_id AS p_id, epoch_ms(p.ts) AS p_ms,
      |        c.event_id AS c_id, epoch_ms(c.ts) AS c_ms,
      |        row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn
      | FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      | JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |   ON c.user_id = p.user_id AND c.ts <= p.ts)
      |WHERE rn = 1 ORDER BY p_id""".stripMargin

  // ------------------------------------------- batch sessionization
  /** Gap-based sessions via lag + running sum — the oracled batch twin
    * of streaming.EventsStream.sessionizeStream (30-minute gap). */
  private def q43(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapMs = 30 * 60000L
    val withNew = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull || unix_millis(col("ts")) - col("prev_ms") > gapMs, 1)
          .otherwise(0))
    withNew
      .withColumn("sid", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min(unix_millis(col("ts"))).as("start_ms"),
           max(unix_millis(col("ts"))).as("end_ms"),
           count(lit(1)).as("n_events"),
           dbl(sum(d184(col("value")))).as("sum_value"))
      .sortedOutWide("user_id", "sid")
  }

  private val q43Sql =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, value,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |y AS (
      |  SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM x),
      |z AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM y)
      |SELECT user_id, CAST(sid AS BIGINT) AS sid, min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM z GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  // ------------------------------------------------- union by name
  private def q44(s: SparkSession, d: String): DataFrame = {
    val big = t(s, d, "orders").where(col("o_totalprice") > 250000)
      .select(col("o_orderkey").as("k"), lit("big").as("tag"), col("o_totalprice").as("price"))
    val urgent = t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
      .select(lit("urgent").as("tag"), col("o_totalprice").as("price"), col("o_orderkey").as("k"))
    big.unionByName(urgent).sortedOutWide("k", "tag")
  }

  private val q44Sql =
    """SELECT * FROM (
      | SELECT o_orderkey AS k, 'big' AS tag, o_totalprice AS price
      | FROM orders WHERE o_totalprice > 250000
      | UNION ALL BY NAME
      | SELECT 'urgent' AS tag, o_totalprice AS price, o_orderkey AS k
      | FROM orders WHERE o_orderpriority = '1-URGENT')
      |ORDER BY k, tag""".stripMargin

  // --------------------------------------------- token explode (UDTF)
  private def q45(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)

  private val q45Sql =
    """SELECT tok, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents)
      |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin

  // --------------------------------- approximate distinct (HLL++) —
  // approx values differ per sketch impl, so the sketch value itself
  // can't be hashed against DuckDB; instead the query OUTPUTS the exact
  // count plus a within-3-sigma (15% = 3x the 5% rsd) relative-error flag over the approx value.
  // The oracle asserts the flag true: the HLL++ accuracy contract is
  // verified, the sketch-specific value stays out of the hash.
  private def q46(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
           countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) /
          col("exact_users") <= lit(0.15)).as("within_bounds"))
      .sortedOut("event_type")

  private val q46Sql =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users, true AS within_bounds
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- IVF ANN
  private def q47(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    new IvfIndex(nCells = 16, nProbe = 4)
      .annTopK(e, e.where(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .sortedOut("query_id", "rank")
  }

  /** The IVF search is fully deterministic (centroids are vec_id<16,
    * cosine is a bit-identical sequential fold on both engines), so the
    * whole assign→probe→search pipeline oracles exactly in SQL. */
  private val q47Sql = {
    def cos(a: String, b: String) =
      s"""(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH centroids AS (
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
       |scored AS (
       |  SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id,
       |         ${cos("q.q_emb", "a.embedding")} AS cos
       |  FROM qprobe q JOIN assign a USING (cell)
       |  WHERE a.vec_id <> q.query_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // -------------------------------------- grouping sets (SQL surface)
  /** Runs through spark.sql text — exercising the engine's SQL entry
    * point end to end (parser → Catalyst → execution). */
  private def q49(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
  }

  private val q49Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ------------------------------------ analytic windows (lag/lead/ntile)
  private def q50(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(w).as("quartile"),
        datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w)).as("days_since_prev"))
      .sortedOutWide("o_custkey", "o_orderkey")
  }

  private val q50Sql =
    """SELECT o_custkey, o_orderkey,
      | lag(o_orderkey) OVER w AS prev_order,
      | lead(o_orderkey) OVER w AS next_order,
      | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      | CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INTEGER) AS days_since_prev
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ------------------------------------------ typed UDAF (Aggregator)
  /** Per-label embedding centroid via the VectorMeanAggregator typed
    * UDAF — partial buffers merge map-side; the shuffle carries one
    * (sums, count) buffer per (label, partition), never the vectors.
    * Double addition order varies with partitioning, so the raw value
    * can't hash against an oracle; instead (q46 pattern) the query
    * CHECKS the Aggregator against the deterministic sorted-fold
    * centroid (q35's formulation) in-plan and outputs the boolean —
    * the oracle asserts it true. The UDAF result is thereby verified
    * to 1e-6 relative without putting fp-order noise in the hash. */
  private def q51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.VectorMeanAggregator[(Int, Array[Float])](64, _._2)
    val viaUdaf = Tables.embeddings(s, d)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("centroid"))
      .map { case (label, c) => (label, math.sqrt(c.map(x => x * x).sum), c.length) }
      .toDF("label", "agg_norm", "dim")
    val reference = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sort_array(collect_list(col("x").cast(DoubleType))).as("xs"),
           count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (aggregate(col("xs"), lit(0.0), (acc, v) => acc + v) / col("n")).as("mean"))
      .groupBy("label")
      .agg(sqrt(sum(col("mean") * col("mean"))).as("ref_norm"))
    viaUdaf.join(reference, Seq("label"))
      .select(col("label"), col("dim"),
        (abs(col("agg_norm") - col("ref_norm")) / col("ref_norm") <= lit(1e-6))
          .as("within_tol"))
      .sortedOut("label")
  }

  private val q51Sql =
    """SELECT label, CAST(64 AS INTEGER) AS dim, true AS within_tol
      |FROM (SELECT DISTINCT label FROM embeddings) d ORDER BY label""".stripMargin

  // ---------------------------------------- from_json map extraction
  /** JSON props parsed to a typed MAP with from_json (q20 used the
    * scalar get_json_object path), exploded and aggregated per key. */
  private def q52(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(explode(from_json(col("props"), MapType(StringType, LongType)))
        .as(Seq("key", "v")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), min("v").as("min_v"),
           max("v").as("max_v"), sum("v").as("sum_v"))
      .sortedOut("key")

  private val q52Sql =
    """SELECT 'k' AS key, count(*) AS n,
      | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_v,
      | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_v,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_v
      |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
      |GROUP BY 1 ORDER BY key""".stripMargin

  // ------------------------------------------- interval (range) join
  /** Same-user event pairs within 5 minutes of each other (a < b):
    * bucketized equi-join, not a theta join — see
    * RelationalOps.intervalJoin. */
  private def q53(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val a = ev.select(col("user_id"), col("event_id").as("e_a"), col("ts").as("ts_a"))
    val b = ev.select(col("user_id"), col("event_id").as("e_b"), col("ts").as("ts_b"))
    RelationalOps.intervalJoin(a, b, Seq("user_id"), "ts_a", "ts_b", 5 * 60000L)
      .where(col("e_a") < col("e_b"))
      .select(col("user_id"), col("e_a"), col("e_b"),
        (unix_millis(col("ts_b")) - unix_millis(col("ts_a"))).as("dt_ms"))
      .sortedOutWide("user_id", "e_a", "e_b")
  }

  private val q53Sql =
    """SELECT a.user_id, a.event_id AS e_a, b.event_id AS e_b,
      | epoch_ms(b.ts) - epoch_ms(a.ts) AS dt_ms
      |FROM events a JOIN events b
      |  ON b.user_id = a.user_id
      | AND a.event_id < b.event_id
      | AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 300000
      |ORDER BY a.user_id, e_a, e_b""".stripMargin

  // ----------------------------------- bounded top-k-per-key UDAF
  /** q15's top-3-orders-per-customer computed with the bounded-buffer
    * TopKAggregator instead of a ranking window — same rows, but the
    * shuffle carries ≤k entries per (key, partition) instead of every
    * order. Oracled with the row_number formulation. */
  private def q54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKAggregator[(Long, Long, Double)](
      3, r => (r._3, r._2))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("top"))
      .flatMap { case (cust, top) =>
        top.zipWithIndex.map { case ((price, ok), i) => (cust, ok, price, i + 1) }
      }
      .toDF("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .sortedOutWide("o_custkey", "rn")
  }

  private val q54Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ----------------------------------- mergeable distinct sketches
  /** The 100 TB distinct-count pattern: build one HLL SKETCH per
    * (day, event_type) partition — the pre-aggregate a real pipeline
    * materializes incrementally — then MERGE sketches across days per
    * type and estimate, never revisiting raw events. q46 verified the
    * scalar approx aggregate; this verifies sketch mergeability (the
    * union pass sees only 1-row-per-partition binary sketches). The
    * estimate is checked in-plan against the exact count (q46 pattern)
    * so the sketch-impl-specific value stays out of the hash. */
  private def q55(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val daily = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false))).as("est_users"),
           count(lit(1)).as("n_days"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_days"),
        (abs(col("est_users") - col("exact_users")) /
          col("exact_users") <= lit(0.15)).as("within_bounds"))
      .sortedOut("event_type")
  }

  private val q55Sql =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      | count(DISTINCT date_trunc('day', ts)) AS n_days,
      | true AS within_bounds
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------- salted skew join
  /** Revenue per part brand through RelationalOps.saltedJoin — the
    * manual skew spreader: every lineitem row gets a deterministic
    * shard from a hash of the whole row, the part dimension is
    * replicated once per shard, and the join key becomes
    * (l_partkey, shard), so a hot part key fans over `salt` reducers
    * instead of one. The result is row-for-row the plain inner join,
    * which is exactly what the oracle runs. */
  private def q64(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val p = t(s, d, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
    RelationalOps.saltedJoin(li, p, "l_partkey", salt = 8)
      .groupBy("p_brand")
      .agg(dbl(sum(d184(col("l_quantity")))).as("sum_qty"),
           count(lit(1)).as("n_lines"))
      .sortedOut("p_brand")
  }

  private val q64Sql =
    """SELECT p_brand, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ------------------------------------- stream-stream join (twin)
  /** Batch twin of EventsStream.streamStreamPairs: same-user
    * click↔view pairs within ±10 minutes, counted per user. Batch
    * runs the bucketized intervalJoin (hash-joinable key, no theta
    * nested loop); the streaming version is the watermarked
    * stream-stream join the spec pins to this result. */
  private def q65(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val a = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    RelationalOps.intervalJoin(a, b, Seq("user_id"), "a_ts", "b_ts", 10 * 60000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
           min(col("a_id")).as("first_click"),
           max(col("b_id")).as("last_view"))
      .sortedOutWide("user_id")
  }

  private val q65Sql =
    """SELECT a.user_id, count(*) AS n_pairs,
      | min(a.event_id) AS first_click, max(b.event_id) AS last_view
      |FROM events a JOIN events b
      |  ON b.user_id = a.user_id
      | AND a.event_type = 'click' AND b.event_type = 'view'
      | AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 600000
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  // ---------------------------------- built-in session_window (q67)
  /** The same 30-minute-gap sessions as q43, through Spark's native
    * `session_window` aggregation instead of the lag+running-sum
    * windows — ONE shuffle on user_id and a streaming-capable operator
    * (q43's formulation needs two window passes over a total order).
    * Semantics note: session_window closes when the next event is
    * ≥ gap away (windows are [ts, ts+gap) and merge only on overlap),
    * and the reported end is last_event + gap; the oracle derives both
    * independently via gaps-and-islands with the >= split. */
  private def q67(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
           dbl(sum(d184(col("value")))).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"), col("sum_value"))
      .sortedOutWide("user_id", "start_ms")

  private val q67Sql =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, value,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |y AS (
      |  SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms >= 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM x),
      |z AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM y)
      |SELECT user_id, min(epoch_ms(ts)) AS start_ms,
      |       max(epoch_ms(ts)) + 1800000 AS end_ms,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM z GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin

  // ---------------------------- range theta join via rewrite (q68)
  /** Written as the naive theta join — `abs(ms_a - ms_b) <= 1 min`
    * with NO equi key — and left to the RewriteRangeJoin optimizer
    * rule to bucketize (the raw plan would be an O(n²) nested loop;
    * see plans/RewriteRangeJoin). This puts the rule itself on the
    * driver's correctness path: DuckDB runs the same theta SQL its
    * own way and the pair aggregates must agree exactly. */
  private def q68(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val a = ev.select(col("event_id").as("a_id"), col("user_id").as("u_a"),
      unix_millis(col("ts")).as("ms_a"))
    val b = ev.select(col("event_id").as("b_id"), col("user_id").as("u_b"),
      unix_millis(col("ts")).as("ms_b"))
    a.join(b, abs(col("ms_a") - col("ms_b")) <= lit(60000L) &&
        col("a_id") < col("b_id"))
      .agg(count(lit(1)).as("n_pairs"),
           count(when(col("u_a") === col("u_b"), 1)).as("n_same_user"),
           max(abs(col("ms_a") - col("ms_b"))).as("max_dt_ms"))
  }

  private val q68Sql =
    """SELECT count(*) AS n_pairs,
      | count(CASE WHEN a.user_id = b.user_id THEN 1 END) AS n_same_user,
      | max(abs(epoch_ms(a.ts) - epoch_ms(b.ts))) AS max_dt_ms
      |FROM events a JOIN events b
      |  ON abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 60000
      | AND a.event_id < b.event_id""".stripMargin

  // ------------------------- whole-operator top-k strategy (q69)
  /** q54's top-3-orders-per-customer once more, through the custom
    * TopKPerKey LogicalPlan + SparkStrategy + SparkPlan: a partial
    * bounded-heap pass per input partition, ONE shuffle carrying ≤ k
    * rows per (key, partition), a final merge — the whole-operator
    * extension ladder on the driver's correctness path. Oracled with
    * the row_number formulation. */
  private def q69(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    graft.plans.TopKPerKey.topK(o, Seq("o_custkey"),
        Seq(o("o_totalprice").desc, o("o_orderkey").asc), k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .sortedOutWide("o_custkey", "o_orderkey")
  }

  private val q69Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ----------------------------------- CDC merge / upsert (q76)
  /** [[RelationalOps.mergeUpsert]] applying a deterministic synthetic
    * changelog to the orders snapshot: two update waves (the second
    * overriding the first on their overlap — last-version-wins), a
    * delete wave that also overrides updates, and an insert wave under
    * fresh keys. One max(struct) hash aggregate; no window. */
  private def q76(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val u1 = o.where(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U1").as("o_orderstatus"),
        (col("o_totalprice") * 1.05).as("o_totalprice"),
        lit(1L).as("version"), lit("U").as("op"))
    val u2 = o.where(col("o_orderkey") % 21 === 0)
      .select(col("o_orderkey"), lit("U2").as("o_orderstatus"),
        (col("o_totalprice") * 1.10).as("o_totalprice"),
        lit(2L).as("version"), lit("U").as("op"))
    val del = o.where(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(null: String).as("o_orderstatus"),
        lit(null).cast(DoubleType).as("o_totalprice"),
        lit(3L).as("version"), lit("D").as("op"))
    // insert keys offset by max(o_orderkey)+1, not a literal: a fixed
    // 10M offset collides with real orderkeys once the SF grows past
    // max(o_orderkey) >= 10M, creating (key, version) ties the two
    // engines break differently (ADVICE r3 #2). key + max + 1 > max
    // for every key >= 0 (the fixture's orderkeys start at 0), so the
    // derived offset is collision-free at any SF; the single-row max
    // aggregate broadcasts.
    val mx = o.agg((max(col("o_orderkey")) + 1L).as("__off"))
    val ins = o.where(col("o_orderkey") % 11 === 0).crossJoin(mx)
      .select((col("o_orderkey") + col("__off")).as("o_orderkey"),
        lit("NEW").as("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("version"), lit("U").as("op"))
    RelationalOps.mergeUpsert(o, u1.unionByName(u2).unionByName(del).unionByName(ins),
        "o_orderkey", "version", "op")
      .sortedOutWide("o_orderkey")
  }

  private val q76Sql =
    """WITH chg AS (
      |  SELECT o_orderkey AS k, 0 AS v, 'U' AS op, o_orderstatus AS st, o_totalprice AS pr FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 1, 'U', 'U1', o_totalprice * CAST(1.05 AS DOUBLE) FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', 'U2', o_totalprice * CAST(1.10 AS DOUBLE) FROM orders WHERE o_orderkey % 21 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 3, 'D', NULL, NULL FROM orders WHERE o_orderkey % 13 = 0
      |  UNION ALL
      |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders), 1, 'U', 'NEW', o_totalprice FROM orders WHERE o_orderkey % 11 = 0),
      |w AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn FROM chg)
      |SELECT k AS o_orderkey, st AS o_orderstatus, pr AS o_totalprice
      |FROM w WHERE rn = 1 AND op != 'D'
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------- sliding event windows (q77)
  /** Sliding (hopping) 30-minute windows every 10 minutes over the
    * events stream — the overlapping-window twin of q21's tumbling
    * hour. Spark's `window(ts, size, slide)` expands each event into
    * size/slide = 3 rows BEFORE the aggregate (a narrow generate, no
    * extra shuffle); the oracle mirrors that expansion with an
    * explicit 3-offset unnest. Same transform lifts to readStream +
    * watermark unchanged (SURVEY §2.10). */
  private def q77(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(sum(d184(col("value")))).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .sortedOutWide("win_start", "event_type")

  private val q77Sql =
    """SELECT strftime(make_timestamp(((CAST(floor(epoch(ts) / 600) AS BIGINT) - k) * 600) * 1000000),
      |         '%Y-%m-%d %H:%M:%S') AS win_start,
      | event_type, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------- full outer join (q80)
  /** The one join category the inventory lacked: FULL OUTER between a
    * customer segment and per-customer big-order counts — unmatched
    * rows survive from BOTH sides, with null-flags and coalesced keys
    * mirroring the reference's membership-flag idiom (J5). */
  private def q80(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val o = t(s, d, "orders").where(col("o_totalprice") > 475000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"),
        coalesce(col("n_big"), lit(0L)).as("n_big_orders"),
        (col("c_custkey").isNotNull && col("o_custkey").isNull).as("building_only"),
        col("c_custkey").isNull.as("orders_only"))
      .sortedOutWide("custkey")
  }

  private val q80Sql =
    """SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
      | coalesce(n_big, 0) AS n_big_orders,
      | (c_custkey IS NOT NULL AND o_custkey IS NULL) AS building_only,
      | c_custkey IS NULL AS orders_only
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
      |FULL JOIN (SELECT o_custkey, count(*) AS n_big FROM orders
      |           WHERE o_totalprice > 475000 GROUP BY o_custkey) o
      |  ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  // ------------------------------------- skew diagnostics (q82)
  /** [[graft.ops.Diagnostics.skewReport]] over the events user stream —
    * the pre-join skew check whose ratio is the saltedJoin (q64)
    * replication factor. */
  private def q82(s: SparkSession, d: String): DataFrame =
    graft.ops.Diagnostics.skewReport(Tables.events(s, d), "user_id")

  private val q82Sql =
    """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
      |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_n,
      | (SELECT user_id FROM c ORDER BY n DESC, user_id DESC LIMIT 1) AS hot_key,
      | CAST(max(n) AS DOUBLE) * count(*) / sum(n) AS skew_ratio
      |FROM c""".stripMargin

  // ----------------------- approx-percentile contract (q83)
  /** approx_percentile against the exact percentile, q46-pattern: the
    * sketch value stays out of the hash; the booleans assert it lies
    * between the exact percentiles at p ± 2/accuracy (double the
    * documented 1/accuracy rank-error bound). Exact percentiles ride
    * the q41 DECIMAL(18,6) rounding, which absorbs interpolation
    * ulps.
    *
    * SCALE CAVEAT: the exact `percentile` references buffer the whole
    * column in ONE global aggregation buffer — contract twin only, NOT
    * a production path; at 100 TB a pipeline keeps only the
    * `approx_percentile` side (mergeable sketch, constant memory).
    * The nine percentile evaluations below share one aggregate pass,
    * but each is its own full-column buffer. */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val acc = 1000
    val eps = 2.0 / acc
    // ONE exact-percentile buffer (array percentage) serves all nine
    // points, and ONE approx sketch serves the three probes — the
    // separate-call form built 9 full-column buffers + 3 sketches and
    // cost 3.2 s at sf0.1 for identical values (interpolation happens
    // per element from the same sorted buffer)
    val ps = Seq(0.5 - eps, 0.5, 0.5 + eps, 0.9 - eps, 0.9, 0.9 + eps,
      0.99 - eps, 0.99, 0.99 + eps)
    val agg = t(s, d, "orders").agg(
      percentile(col("o_totalprice"), typedLit(ps)).as("__pct"),
      expr(s"approx_percentile(o_totalprice, array(0.5D, 0.9D, 0.99D), $acc)").as("__apx"),
      count(lit(1)).as("n"))
    def pct(i: Int) = element_at(col("__pct"), i + 1)
    def apx(i: Int) = element_at(col("__apx"), i + 1)
    def exOut(i: Int) = pct(i).cast(DecimalType(18, 6)).cast(DoubleType)
    agg.select(
      exOut(1).as("p50_exact"), exOut(4).as("p90_exact"), exOut(7).as("p99_exact"),
      apx(0).between(pct(0), pct(2)).as("p50_ok"),
      apx(1).between(pct(3), pct(5)).as("p90_ok"),
      apx(2).between(pct(6), pct(8)).as("p99_ok"),
      col("n"))
  }

  private val q83Sql =
    """SELECT
      | CAST(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50_exact,
      | CAST(CAST(quantile_cont(o_totalprice, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS p90_exact,
      | CAST(CAST(quantile_cont(o_totalprice, 0.99) AS DECIMAL(18,6)) AS DOUBLE) AS p99_exact,
      | true AS p50_ok, true AS p90_ok, true AS p99_ok,
      | count(*) AS n
      |FROM orders""".stripMargin

  // ----------------------------- standing vector index probe (q85)
  /** q47's IVF search served from the STANDING [[graft.sim.VectorIndex]]
    * — the corpus is materialized cell-partitioned on disk, the probe
    * join prunes cells via dynamic partition pruning (VectorIndexSpec
    * pins the dynamicpruning plan shape) — AFTER an ids-only takedown
    * (VERDICT r15 #4: a real takedown names ids, not vectors; the
    * index derives the cells itself). The top-k must equal q47's
    * in-plan result with the retracted neighbors excluded, so the
    * oracle is q47's SQL with the id filter. The write lands under
    * target/ (driver-local scratch); each run rebuilds it, which is
    * the honest cost of the serving shape. */
  private def q85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val ivf = new IvfIndex(nCells = 16, nProbe = 4)
    val dir = s"target/indexes/vec_${new java.io.File(d).getName}"
    graft.sim.VectorIndex.write(e, dir, ivf, ivf.centroidsOf(e))
    graft.sim.VectorIndex.retract(s, dir, Seq(20L, 21L, 22L, 23L).toDF("vec_id"))
    graft.sim.VectorIndex.topK(s, dir, e.where(col("vec_id") < 10), k = 5, ivf)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .sortedOut("query_id", "rank")
  }

  private val q85Sql = {
    def cos(a: String, b: String) =
      s"""(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH centroids AS (
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
       |scored AS (
       |  SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id,
       |         ${cos("q.q_emb", "a.embedding")} AS cos
       |  FROM qprobe q JOIN assign a USING (cell)
       |  WHERE a.vec_id <> q.query_id
       |    AND a.vec_id NOT IN (20, 21, 22, 23))
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------- data-profiling report (q91)
  /** [[graft.ops.Diagnostics.profile]] over four orders columns of
    * mixed types — row/null/exact-distinct counts and min/max rendered
    * as strings, all in ONE aggregate pass (doubles excluded from the
    * profile: their string rendering is engine-specific, the q46
    * cross-engine discipline). */
  private def q91(s: SparkSession, d: String): DataFrame =
    graft.ops.Diagnostics.profile(t(s, d, "orders"),
        Seq("o_orderstatus", "o_custkey", "o_orderpriority", "o_orderdate"))
      .sortedOut("column")

  private val q91Sql = {
    def one(c: String) =
      s"""SELECT '$c' AS "column",
         |  (SELECT count(*) FROM orders) AS n_rows,
         |  (SELECT count(*) FROM orders) - count($c) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value
         |FROM orders""".stripMargin
    Seq("o_orderstatus", "o_custkey", "o_orderpriority", "o_orderdate")
      .map(one).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
  }

  // ------------------- left-outer stream-stream join, batch twin (q96)
  /** Funnel-drop analysis — clicks paired with same-user views within
    * ±10 min, KEEPING the clicks that never converted (the rows an
    * inner join can't express). Runs the streaming operator
    * [[graft.streaming.EventsStream.streamStreamPairsLeftOuter]]
    * itself in batch mode (watermarks are no-ops on bounded input), so
    * the oracled result pins the exact code path the stream executes;
    * the spec pins the streaming run — incl. that unmatched rows emit
    * only on watermark advance — to this same join.
    *
    * Scale shape: one shuffle on user_id for both sides; per-user
    * match windows are minutes wide, so state (streaming) or the
    * per-key join group (batch) stays bounded. */
  private def q96(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventsStream.streamStreamPairsLeftOuter(Tables.events(s, d))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
           count(col("b_id")).as("n_matched"),
           (count(lit(1)) - count(col("b_id"))).as("n_unmatched"),
           min(col("dt_ms")).as("min_dt_ms"),
           max(col("dt_ms")).as("max_dt_ms"))
      .sortedOutWide("user_id")

  private val q96Sql =
    """SELECT user_id, count(*) AS n_rows, count(b_id) AS n_matched,
      | count(*) - count(b_id) AS n_unmatched,
      | min(dt_ms) AS min_dt_ms, max(dt_ms) AS max_dt_ms
      |FROM (
      |  SELECT a.user_id, b.event_id AS b_id,
      |         epoch_ms(b.ts) - epoch_ms(a.ts) AS dt_ms
      |  FROM (SELECT * FROM events WHERE event_type = 'click') a
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
      |    ON b.user_id = a.user_id
      |   AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 600000)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------- z-order curve statistics (q98)
  /** Pins [[graft.ops.Maintenance.zValue2]]'s bit-interleave exactly
    * across engines: 8-bit z-values of (l_partkey, l_suppkey) folded
    * mod 256, bucketed by the z prefix, with per-bucket key envelopes
    * — the min/max spans that row-group skipping prunes on after a
    * [[graft.ops.Maintenance.writeZOrdered]] layout. The actual
    * skipping benefit is metric-proven in ScaleOpsSpec (DuckDB can't
    * oracle parquet row-group IO); this query oracles the curve
    * arithmetic the layout sorts by. Narrow projection + one integer
    * aggregation. */
  private def q98(s: SparkSession, d: String): DataFrame = {
    val z = graft.ops.Maintenance.zValue2(
      pmod(col("l_partkey"), lit(256L)), pmod(col("l_suppkey"), lit(256L)), bits = 8)
    t(s, d, "lineitem")
      .select(z.as("z"), col("l_partkey"), col("l_suppkey"))
      .groupBy(shiftright(col("z"), 8).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
           min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
           min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      .sortedOut("z_bucket")
  }

  private val q98Sql = {
    val zExpr = (0 until 8)
      .map(i => s"(((a & ${1L << i}) << $i) | ((b & ${1L << i}) << ${i + 1}))")
      .mkString(" | ")
    s"""WITH kb AS (
       |  SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b, l_partkey, l_suppkey
       |  FROM lineitem),
       |z AS (SELECT ($zExpr) AS z, l_partkey, l_suppkey FROM kb)
       |SELECT z >> 8 AS z_bucket, count(*) AS n,
       |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
  }


  // --------------------- layout skipping census: z vs sort vs hash (q189)
  /** The AUDIT step after a [[graft.ops.Maintenance.writeZOrdered]]
    * layout decision: how many files (and rows) would min/max pruning
    * actually read under each of the three canonical layouts — z-order
    * ([[graft.ops.ZOrder.zvalue]], the native Morton expression),
    * single-column sort, and key-hash — for a point predicate on
    * either dimension and a box on both. Real parquet row-group IO
    * can't be oracled cross-engine (ScaleOpsSpec metric-proves it);
    * this census SIMULATES the pruning with pure integer math both
    * engines reproduce bit-for-bit: rows fold to 8-bit (a, b) coords,
    * each layout assigns a file id (z>>10, a>>2, (31a+b)%64 — 64
    * "files" each), per-file envelopes are (min,max) per dimension,
    * and a file is READ iff its envelope intersects the predicate —
    * exactly the parquet footer-stats rule.
    *
    * The expected shape IS the z-order story: sort-by-a prunes a-point
    * predicates perfectly and b-points not at all; hash prunes
    * nothing; z-order prunes BOTH to ~sqrt-ish file subsets and boxes
    * hardest. ONE narrow scan of two int columns (at 100 TB the scan
    * IS the cost — a per-layout pass would read the table three
    * times): each row explodes to its three (layout, file)
    * assignments, the envelope aggregate map-side-combines to ≤
    * 3·64 groups, and the census is a second 192-row aggregate.
    * Output is 3 rows.
    */
  private def q189(s: SparkSession, d: String): DataFrame = {
    val coords = t(s, d, "lineitem")
      .select(pmod(col("l_partkey"), lit(256)).cast("int").as("a"),
              pmod(col("l_suppkey"), lit(256)).cast("int").as("b"))
    val envelopes = coords
      .select(col("a"), col("b"), explode(array(
        struct(lit("hash").as("layout"),
          pmod(col("a") * 31 + col("b"), lit(64)).cast("long").as("file")),
        struct(lit("sort_a").as("layout"),
          shiftright(col("a"), 2).cast("long").as("file")),
        struct(lit("zorder").as("layout"),
          shiftright(graft.ops.ZOrder.zvalue(col("a"), col("b"), bits = 8), 10)
            .as("file")))).as("lf"))
      .groupBy(col("lf.layout").as("layout"), col("lf.file").as("file"))
      .agg(count(lit(1)).as("n"),
           min("a").as("lo_a"), max("a").as("hi_a"),
           min("b").as("lo_b"), max("b").as("hi_b"))
    envelopes
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"),
        sum(when(col("lo_a") <= 42 && col("hi_a") >= 42, 1L).otherwise(0L)).as("files_pa"),
        sum(when(col("lo_a") <= 42 && col("hi_a") >= 42, col("n")).otherwise(0L)).as("rows_pa"),
        sum(when(col("lo_b") <= 7 && col("hi_b") >= 7, 1L).otherwise(0L)).as("files_pb"),
        sum(when(col("lo_b") <= 7 && col("hi_b") >= 7, col("n")).otherwise(0L)).as("rows_pb"),
        sum(when(col("lo_a") <= 47 && col("hi_a") >= 40 &&
                 col("lo_b") <= 15 && col("hi_b") >= 0, 1L).otherwise(0L)).as("files_box"),
        sum(when(col("lo_a") <= 47 && col("hi_a") >= 40 &&
                 col("lo_b") <= 15 && col("hi_b") >= 0, col("n")).otherwise(0L)).as("rows_box"))
      .select(col("layout"), col("n_files"), col("n_rows"),
        col("files_pa"), col("rows_pa"), col("files_pb"), col("rows_pb"),
        col("files_box"), col("rows_box"))
      .sortedOut("layout")
  }

  private val q189Sql = {
    val zExpr = (0 until 8)
      .map(i => s"(((a & ${1L << i}) << $i) | ((b & ${1L << i}) << ${i + 1}))")
      .mkString(" | ")
    def census(layout: String, fileExpr: String) =
      s"""SELECT '$layout' AS layout,
         |  CAST(count(*) AS BIGINT) AS n_files, CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN lo_a <= 42 AND hi_a >= 42 THEN 1 ELSE 0 END) AS BIGINT) AS files_pa,
         |  CAST(sum(CASE WHEN lo_a <= 42 AND hi_a >= 42 THEN n ELSE 0 END) AS BIGINT) AS rows_pa,
         |  CAST(sum(CASE WHEN lo_b <= 7 AND hi_b >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS files_pb,
         |  CAST(sum(CASE WHEN lo_b <= 7 AND hi_b >= 7 THEN n ELSE 0 END) AS BIGINT) AS rows_pb,
         |  CAST(sum(CASE WHEN lo_a <= 47 AND hi_a >= 40 AND lo_b <= 15 AND hi_b >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_box,
         |  CAST(sum(CASE WHEN lo_a <= 47 AND hi_a >= 40 AND lo_b <= 15 AND hi_b >= 0 THEN n ELSE 0 END) AS BIGINT) AS rows_box
         |FROM (SELECT $fileExpr AS file, CAST(count(*) AS BIGINT) AS n,
         |        min(a) AS lo_a, max(a) AS hi_a, min(b) AS lo_b, max(b) AS hi_b
         |      FROM coords GROUP BY 1) env""".stripMargin
    s"""WITH kb AS (SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b FROM lineitem),
       |coords AS (SELECT a, b, ($zExpr) AS z FROM kb)
       |SELECT * FROM (
       |${census("hash", "(a * 31 + b) % 64")}
       |UNION ALL
       |${census("sort_a", "a // 4")}
       |UNION ALL
       |${census("zorder", "z // 1024")}
       |) u ORDER BY layout""".stripMargin
  }


  // --------------------- k-anonymity / pseudonymization audit (q194)
  /** The privacy-risk audit a dataset release runs after redaction
    * (q73): pseudonymize the direct identifier (md5-60 of c_custkey —
    * deterministic, join-preserving, the engine-wide hash both engines
    * replay), group by the QUASI-identifier tuple (nation, market
    * segment, account-balance kilobucket), and report the k-anonymity
    * histogram — how many equivalence classes (and member records)
    * fall in each size band. Records in small classes (k < 5) are the
    * re-identification surface a release either suppresses or
    * generalizes; the per-band pseudonym count doubling as an
    * injectivity check (classes partition records, so the band sums
    * of per-class distinct pseudonyms must equal the member counts).
    * The balance bucket is floor(x/1000) on the SAME IEEE double both
    * engines read from parquet — division and floor are deterministic,
    * so the bucketing cannot drift.
    *
    * Scale shape: one hash-aggregate on the quasi-tuple (map-side
    * combining), one |classes|-bounded re-aggregate; no row-level
    * data leaves the first shuffle. */
  private def q194(s: SparkSession, d: String): DataFrame = {
    val classes = t(s, d, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_kb"),
        graft.text.Hashing.h60(col("c_custkey")).as("pseudo"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_kb")
      .agg(count(lit(1)).as("n"), countDistinct(col("pseudo")).as("np"))
    classes
      .select(
        when(col("n") === 1, "k1_unique")
          .when(col("n") <= 4, "k2_4")
          .when(col("n") <= 9, "k5_9")
          .otherwise("k10_plus").as("band"),
        col("n"), col("np"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_classes"),
        sum(col("n")).as("n_records"),
        sum(col("np")).as("n_pseudonyms"))
      .sortedOut("band")
  }

  private val q194Sql =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)) AS BIGINT) AS np
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT CASE WHEN n = 1 THEN 'k1_unique'
      |            WHEN n <= 4 THEN 'k2_4'
      |            WHEN n <= 9 THEN 'k5_9'
      |            ELSE 'k10_plus' END AS band,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(n) AS BIGINT) AS n_records,
      |  CAST(sum(np) AS BIGINT) AS n_pseudonyms
      |FROM cls GROUP BY 1 ORDER BY band""".stripMargin


  // --------------------- rendezvous sharding rebalance census (q197)
  /** Consistent shard assignment by rendezvous (highest-random-weight)
    * hashing — the layout policy that lets an INCREMENTAL corpus grow
    * its shard count without reshuffling everything: each key goes to
    * the shard with the highest h(shard, key), so adding shard N+1
    * only steals the keys whose new hash wins — an expected 1/(N+1)
    * of the corpus — while every other assignment stays put (mod-N
    * hashing would move (N-1)/N of all keys). The census assigns every
    * document at N=8 and N=9 over the engine-wide seeded md5-60 and
    * reports, per shard: size before, size after, arrivals and
    * departures. Both engines compute the identical argmax (hash
    * desc, shard asc tie-break), so balance AND stability are
    * exact-matched, not estimated.
    *
    * Scale shape: one narrow explode (9 rows per key) + two
    * shard-bounded aggregates; nothing but 9 rows reaches the sort. */
  private def q197(s: SparkSession, d: String): DataFrame = {
    val assigned = Tables.documents(s, d).select(col("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(8))).as("shard"))
      .select(col("doc_id"), col("shard"),
        graft.text.Hashing.h60(concat(col("shard").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("w"))
      .groupBy("doc_id")
      // ordering key w·16 − shard is strictly unique across the 9
      // candidates (shards differ), so the argmax is deterministic on
      // both engines without relying on never-observed hash ties
      .agg(
        max_by(col("shard"), when(col("shard") < 8,
          col("w").cast(DecimalType(38, 0)) * 16 - col("shard"))).as("s8"),
        max_by(col("shard"),
          col("w").cast(DecimalType(38, 0)) * 16 - col("shard")).as("s9"))
      .select(col("doc_id"), col("s8"), col("s9"))
    assigned
      .select(explode(array(
        struct(col("s8").as("shard"), lit(1L).as("at8"), lit(0L).as("at9"),
          when(col("s8") =!= col("s9"), 1L).otherwise(0L).as("departed"),
          lit(0L).as("arrived")),
        struct(col("s9").as("shard"), lit(0L).as("at8"), lit(1L).as("at9"),
          lit(0L).as("departed"),
          when(col("s8") =!= col("s9"), 1L).otherwise(0L).as("arrived")))).as("r"))
      .groupBy(col("r.shard").cast("long").as("shard"))
      .agg(sum(col("r.at8")).as("n_at_8"), sum(col("r.at9")).as("n_at_9"),
        sum(col("r.departed")).as("n_departed"), sum(col("r.arrived")).as("n_arrived"))
      .sortedOut("shard")
  }

  private val q197Sql =
    """WITH w AS (SELECT doc_id, shard,
      |    CAST(concat('0x', substr(md5(CAST(shard AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS w
      |  FROM documents, unnest(range(0, 9)) AS t(shard)),
      |a AS (SELECT doc_id,
      |    arg_max(shard, CAST(w AS HUGEINT) * 16 - shard) FILTER (shard < 8) AS s8,
      |    arg_max(shard, CAST(w AS HUGEINT) * 16 - shard) AS s9
      |  FROM w GROUP BY doc_id),
      |sides AS (
      |  SELECT s8 AS shard, 1 AS at8, 0 AS at9,
      |    CASE WHEN s8 <> s9 THEN 1 ELSE 0 END AS departed, 0 AS arrived FROM a
      |  UNION ALL
      |  SELECT s9, 0, 1, 0, CASE WHEN s8 <> s9 THEN 1 ELSE 0 END FROM a)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(sum(at8) AS BIGINT) AS n_at_8, CAST(sum(at9) AS BIGINT) AS n_at_9,
      |  CAST(sum(departed) AS BIGINT) AS n_departed,
      |  CAST(sum(arrived) AS BIGINT) AS n_arrived
      |FROM sides GROUP BY shard ORDER BY shard""".stripMargin

  // --------------------- ANALYZE-style column statistics census (q198)
  /** The stats-collection pass a cost-based optimizer runs (`ANALYZE
    * TABLE ... COMPUTE STATISTICS FOR COLUMNS`): per-column row count,
    * null count, exact NDV, min/max — plus an equi-depth (equi-height)
    * histogram over `o_totalprice`, the structure join-selectivity and
    * range-predicate estimates actually consume. Two row families in
    * one output: `col:<name>` rows carry the per-column scalars
    * (numeric min/max as doubles, string min/max in their own columns
    * — binary/UTF-8 collation on both engines; timestamps exported as
    * epoch millis), `hist:o_totalprice:<k>` rows carry the 8-bucket
    * boundaries (bucket max IS the boundary), per-bucket row count and
    * NDV. The HLL arm is verified IN-PLAN, not exported: each engine
    * asserts its own `approx_count_distinct` lands within 15% of the
    * exact NDV (`hll_ok` — Spark HLL++ at default 5% rsd vs DuckDB's
    * own sketch; the q46 exact-vs-sketch split), because sketch
    * estimates themselves are implementation-defined and can never
    * hash-match.
    *
    * Scale shape: the scalar family is ONE map-side-combinable
    * aggregate over a single scan (1 row → 6 exploded). The histogram
    * family needs a total order (ntile over `(price, orderkey)` — the
    * tiebreak makes bucket CONTENTS deterministic, not just
    * boundaries); at 100 TB the boundaries come from
    * `approx_percentile` or a range-partitioner sample instead — this
    * exact ntile form is the verification twin, the q41 precedent. NDV
    * per column is the exact arm; the production arm at scale is the
    * in-plan-verified HLL. */
  /** q198's melt, shared with q303's standing stats index: one row per
    * (column, value-as-double-or-string) — numeric columns through
    * DOUBLE, o_orderdate as epoch millis (the NTZ-annotated parquet is
    * cast under the pinned-UTC session), strings in their own slot. */
  private def meltOrders(o: DataFrame): DataFrame = {
    val nullD = lit(null: java.lang.Double)
    val nullS = lit(null: String)
    o.select(explode(array(
        struct(lit("col:o_orderkey").as("stat_key"),
          col("o_orderkey").cast(DoubleType).as("nv"), nullS.as("sv")),
        struct(lit("col:o_custkey").as("stat_key"),
          col("o_custkey").cast(DoubleType).as("nv"), nullS.as("sv")),
        struct(lit("col:o_totalprice").as("stat_key"),
          col("o_totalprice").as("nv"), nullS.as("sv")),
        struct(lit("col:o_orderdate").as("stat_key"),
          unix_millis(col("o_orderdate").cast(TimestampType)).cast(DoubleType).as("nv"),
          nullS.as("sv")),
        struct(lit("col:o_orderstatus").as("stat_key"),
          nullD.as("nv"), col("o_orderstatus").as("sv")),
        struct(lit("col:o_orderpriority").as("stat_key"),
          nullD.as("nv"), col("o_orderpriority").as("sv")))).as("r"))
      .select(col("r.stat_key"), col("r.nv"), col("r.sv"))
  }

  private def q198(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    // Melt shape, not one wide multi-DISTINCT aggregate: six exact
    // countDistinct + six HLL sketches in a single agg plan as
    // Expand → cascaded SortAggregates (three full sorts of the
    // 7×-expanded scan — measured 7.2 s at sf0.1). Melting to
    // (column, value) rows keeps every stage a map-side-combinable
    // HASH aggregate: one shuffle carries only the distinct
    // (column, value) pairs, and NDV/null/min/max/HLL all fold from
    // that pre-distinct frame (HLL is duplicate-insensitive, so the
    // sketch over distinct values estimates the same cardinality).
    val melted = meltOrders(o)
    val perValue = melted.groupBy("stat_key", "nv", "sv")
      .agg(count(lit(1)).as("cnt"))
    val scalars = perValue.groupBy("stat_key")
      .agg(
        sum(col("cnt")).as("n"),
        coalesce(sum(when(col("nv").isNull && col("sv").isNull, col("cnt"))),
          lit(0L)).as("n_null"),
        sum(when(col("nv").isNotNull || col("sv").isNotNull, 1L)
          .otherwise(0L)).as("ndv"),
        approx_count_distinct(coalesce(col("nv").cast(StringType), col("sv")))
          .as("hll"),
        min(col("nv")).as("min_num"), max(col("nv")).as("max_num"),
        min(col("sv")).as("min_str"), max(col("sv")).as("max_str"))
      .select(col("stat_key"), col("n"), col("n_null"), col("ndv"),
        (abs(col("hll") - col("ndv")) * 100 <= col("ndv") * 15).as("hll_ok"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
    // Equi-depth histogram WITHOUT the single-partition cliff: the
    // previous `ntile(8).over(Window.orderBy(...))` form sank the whole
    // orders table through one task. globalRowNumber range-partitions +
    // locally sorts (every partition ranks in parallel); the ntile
    // bucket is then closed-form arithmetic on (rn, n): Spark's ntile
    // gives the first (n mod 8) buckets ceil(n/8) rows and the rest
    // floor(n/8) — reproduced exactly below, so the oracle hash is
    // unchanged. n arrives as a 1-row broadcast (totals-join idiom).
    val ranked = RelationalOps.globalRowNumber(
      o.select(col("o_totalprice"), col("o_orderkey")),
      Seq(col("o_totalprice").asc, col("o_orderkey").asc))
    val nTotal = ranked.agg(count(lit(1)).as("n_total"))
    val qSize = floor(col("n_total") / 8)
    val rExtra = col("n_total") % 8
    val cutoff = rExtra * (qSize + 1)
    val bucketExpr = when(col("rn") <= cutoff,
        floor((col("rn") - 1) / (qSize + 1)) + 1)
      .otherwise(rExtra + floor((col("rn") - cutoff - 1) / greatest(qSize, lit(1L))) + 1)
    val hist = ranked.crossJoin(broadcast(nTotal))
      .withColumn("bucket", bucketExpr.cast(IntegerType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), countDistinct(col("o_totalprice")).as("ndv"),
        min(col("o_totalprice")).as("min_num"), max(col("o_totalprice")).as("max_num"))
      .select(concat(lit("hist:o_totalprice:"), col("bucket").cast("string")).as("stat_key"),
        col("n"), lit(null: java.lang.Long).as("n_null"), col("ndv"),
        lit(null: java.lang.Boolean).as("hll_ok"), col("min_num"), col("max_num"),
        lit(null: String).as("min_str"), lit(null: String).as("max_str"))
    scalars.unionByName(hist).sortedOut("stat_key")
  }

  private val q198Sql =
    """WITH s AS (SELECT
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z1,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d1,
      |  abs(approx_count_distinct(o_orderkey) - count(DISTINCT o_orderkey)) * 100 <= count(DISTINCT o_orderkey) * 15 AS h1,
      |  CAST(min(o_orderkey) AS DOUBLE) AS lo1, CAST(max(o_orderkey) AS DOUBLE) AS hi1,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z2,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS d2,
      |  abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey)) * 100 <= count(DISTINCT o_custkey) * 15 AS h2,
      |  CAST(min(o_custkey) AS DOUBLE) AS lo2, CAST(max(o_custkey) AS DOUBLE) AS hi2,
      |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z3,
      |  CAST(count(DISTINCT o_totalprice) AS BIGINT) AS d3,
      |  abs(approx_count_distinct(o_totalprice) - count(DISTINCT o_totalprice)) * 100 <= count(DISTINCT o_totalprice) * 15 AS h3,
      |  min(o_totalprice) AS lo3, max(o_totalprice) AS hi3,
      |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z4,
      |  CAST(count(DISTINCT o_orderdate) AS BIGINT) AS d4,
      |  abs(approx_count_distinct(o_orderdate) - count(DISTINCT o_orderdate)) * 100 <= count(DISTINCT o_orderdate) * 15 AS h4,
      |  CAST(epoch_ms(min(o_orderdate)) AS DOUBLE) AS lo4,
      |  CAST(epoch_ms(max(o_orderdate)) AS DOUBLE) AS hi4,
      |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z5,
      |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d5,
      |  abs(approx_count_distinct(o_orderstatus) - count(DISTINCT o_orderstatus)) * 100 <= count(DISTINCT o_orderstatus) * 15 AS h5,
      |  min(o_orderstatus) AS slo5, max(o_orderstatus) AS shi5,
      |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z6,
      |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d6,
      |  abs(approx_count_distinct(o_orderpriority) - count(DISTINCT o_orderpriority)) * 100 <= count(DISTINCT o_orderpriority) * 15 AS h6,
      |  min(o_orderpriority) AS slo6, max(o_orderpriority) AS shi6
      |  FROM orders),
      |cols AS (
      |  SELECT 'col:o_orderkey' AS stat_key, n, z1 AS n_null, d1 AS ndv, h1 AS hll_ok,
      |    lo1 AS min_num, hi1 AS max_num, NULL AS min_str, NULL AS max_str FROM s
      |  UNION ALL SELECT 'col:o_custkey', n, z2, d2, h2, lo2, hi2, NULL, NULL FROM s
      |  UNION ALL SELECT 'col:o_totalprice', n, z3, d3, h3, lo3, hi3, NULL, NULL FROM s
      |  UNION ALL SELECT 'col:o_orderdate', n, z4, d4, h4, lo4, hi4, NULL, NULL FROM s
      |  UNION ALL SELECT 'col:o_orderstatus', n, z5, d5, h5, NULL, NULL, slo5, shi5 FROM s
      |  UNION ALL SELECT 'col:o_orderpriority', n, z6, d6, h6, NULL, NULL, slo6, shi6 FROM s),
      |hist AS (
      |  SELECT concat('hist:o_totalprice:', CAST(bucket AS VARCHAR)) AS stat_key,
      |    CAST(count(*) AS BIGINT) AS n, NULL AS n_null,
      |    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS ndv, NULL AS hll_ok,
      |    min(o_totalprice) AS min_num, max(o_totalprice) AS max_num,
      |    NULL AS min_str, NULL AS max_str
      |  FROM (SELECT o_totalprice,
      |          ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      |        FROM orders)
      |  GROUP BY 1)
      |SELECT * FROM cols UNION ALL SELECT * FROM hist ORDER BY stat_key""".stripMargin

  // --------- incremental ANALYZE from the standing stats index (q303)
  /** q198's whole output — per-column scalars, HLL contract, equi-depth
    * histogram — served from [[graft.ops.StatsIndex]] after an
    * append + RETRACT sequence (VERDICT r14 #8): build on two-thirds of
    * orders, append the remaining third, retract every o_orderkey % 7
    * == 3 row. The oracle is q198's SQL on the FINAL state (orders
    * minus the retracted rows), recomputing everything from scratch —
    * the proof that the monoid per-value maintenance is exact under
    * retraction, including the non-invertible stats (min/max/NDV/HLL
    * re-derive from the maintained value grain) and the histogram
    * (rank intervals from a distributed prefix scan over per-value
    * counts, Spark's ntile layout reproduced in closed form). Build
    * once per (session, sf); the timed surface is the serve. */
  /** Build q303's standing index once per (session, sf): two-thirds of
    * orders at write, the rest appended, every o_orderkey % 7 == 3 row
    * retracted — shared by q303 (ANALYZE serve) and q304 (advisor
    * serve). Returns the index name. */
  private def q303Index(s: SparkSession, d: String): String = {
    val name = "q303_statsidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val o = t(s, d, "orders")
    val marker = name + "_built"
    if (!s.catalog.tableExists(marker)) {
      graft.ops.StatsIndex.write(meltOrders(o.where(col("o_orderkey") % 3 =!= 2)), name)
      graft.ops.StatsIndex.append(meltOrders(o.where(col("o_orderkey") % 3 === 2)), name)
      graft.ops.StatsIndex.retract(meltOrders(o.where(col("o_orderkey") % 7 === 3)), name)
      s.range(1).createOrReplaceTempView(marker)
    }
    name
  }

  private def q303(s: SparkSession, d: String): DataFrame = {
    val name = q303Index(s, d)
    graft.ops.StatsIndex.columnStats(s, name)
      .unionByName(graft.ops.StatsIndex.histogram(s, name, "o_totalprice"))
      .sortedOut("stat_key")
  }

  private val q303Sql =
    q198Sql.replace("FROM orders)", "FROM orders WHERE o_orderkey % 7 <> 3)")

  // --------- advisor family served from the standing stats index (q304)
  /** q269's join-cardinality advisor re-grounded on [[graft.ops.StatsIndex]]
    * (VERDICT r15 #5): the equi-width key histograms AND the exact join
    * cardinality both derive from the standing per-value frames — the
    * orders side is q303's index (post-retraction state: the advisor
    * prices the corpus as it IS), the lineitem side its own index —
    * so the advisor runs as pure index arithmetic with NO base-table
    * re-scan. The exact leg, which q269 paid a full orders ⨝ lineitem
    * for, is here Σ cnt_o·cnt_l over the joined value grains: the
    * per-value monoid is a sufficient statistic for equi-join
    * cardinality itself, not just for its estimate. Each side carries
    * its staleness stamp ([[graft.ops.StatsIndex.pendingSegments]]):
    * liveValues folds pending deltas so the serve is CURRENT, and the
    * stamp is the consumer's distance-from-last-compact contract.
    * Oracle: the q269 arithmetic from scratch on the same final state
    * (orders minus the retracted rows), stamps as literals pinned by
    * the deterministic build (2 pending segments on orders: one
    * append + one retract; 0 on lineitem).
    *
    * Scale shape: serving reads only the (value, cnt) frames — cost ∝
    * NDV of the join keys, never table rows; the histogram rollup is
    * ≤ B rows after a map-side-combinable bucket sum; the exact leg is
    * one value-grain join (the same shuffle the estimate's bucket
    * censuses share). In production the indexes are maintained by the
    * ingest path and the advisor never touches the corpus. */
  private def q304(s: SparkSession, d: String): DataFrame = {
    val oName = q303Index(s, d)
    val lName = "q304_statsidx_li_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val lMarker = lName + "_built"
    if (!s.catalog.tableExists(lMarker)) {
      graft.ops.StatsIndex.write(
        t(s, d, "lineitem").select(lit("col:l_orderkey").as("stat_key"),
          col("l_orderkey").cast(DoubleType).as("nv"), lit(null: String).as("sv")),
        lName)
      s.range(1).createOrReplaceTempView(lMarker)
    }
    val ov = graft.ops.StatsIndex.liveValues(s, oName)
      .where(col("stat_key") === "col:o_orderkey")
      .select(col("nv").cast(LongType).as("k"), col("cnt").as("ac"))
    val lv = graft.ops.StatsIndex.liveValues(s, lName)
      .select(col("nv").cast(LongType).as("k"), col("cnt").as("bc"))
    val (stO, stL) = (graft.ops.StatsIndex.pendingSegments(s, oName).toLong,
      graft.ops.StatsIndex.pendingSegments(s, lName).toLong)
    // ONE action end to end (r17, the q269 restructure): the exact
    // count and the key range rode two blocking driver probes; both
    // are in-plan broadcast 1-row frames now.
    val actual = ov.join(lv, Seq("k"))
      .agg(coalesce(sum(col("ac") * col("bc")), lit(0L)).cast(LongType).as("actual"))
    val e16 = graft.ops.RelationalOps.histJoinCardEst(ov, lv, 16, "est16")
    val e256 = graft.ops.RelationalOps.histJoinCardEst(ov, lv, 256, "est256")
    e16.crossJoin(broadcast(e256)).crossJoin(broadcast(actual))
      .select(explode(array(
        struct(lit(16L).as("n_buckets"), col("est16").as("est"), col("actual"),
          expr("(est16 - actual) * 1000000 div actual").as("err_ppm"),
          lit(stO).as("pending_segs_orders"), lit(stL).as("pending_segs_lineitem")),
        struct(lit(256L).as("n_buckets"), col("est256").as("est"), col("actual"),
          expr("(est256 - actual) * 1000000 div actual").as("err_ppm"),
          lit(stO).as("pending_segs_orders"), lit(stL).as("pending_segs_lineitem")))).as("r"))
      .select(col("r.*"))
      .sortedOut("n_buckets")
  }

  private val q304Sql = {
    def leg(b: Long): String =
      s"""SELECT CAST($b AS BIGINT) AS n_buckets,
         |  CAST(sum(ob * lb // w.width) AS BIGINT) AS est,
         |  (SELECT CAST(count(*) AS BIGINT) FROM o JOIN lineitem l
         |     ON o.k = l.l_orderkey) AS actual,
         |  CAST((sum(ob * lb // w.width)
         |    - (SELECT count(*) FROM o JOIN lineitem l ON o.k = l.l_orderkey)) * 1000000
         |    // (SELECT count(*) FROM o JOIN lineitem l ON o.k = l.l_orderkey) AS BIGINT) AS err_ppm,
         |  CAST(2 AS BIGINT) AS pending_segs_orders,
         |  CAST(0 AS BIGINT) AS pending_segs_lineitem
         |FROM (
         |  SELECT oh.bucket, oh.ob, lh.lb FROM
         |    (SELECT (k - r.lo) // ((r.hi - r.lo + $b) // $b) AS bucket,
         |            CAST(count(*) AS BIGINT) AS ob
         |     FROM o CROSS JOIN r GROUP BY 1) oh
         |  JOIN
         |    (SELECT (l_orderkey - r.lo) // ((r.hi - r.lo + $b) // $b) AS bucket,
         |            CAST(count(*) AS BIGINT) AS lb
         |     FROM lineitem CROSS JOIN r
         |     WHERE l_orderkey BETWEEN r.lo AND r.hi GROUP BY 1) lh
         |  USING (bucket)) j
         |CROSS JOIN (SELECT (r.hi - r.lo + $b) // $b AS width FROM r) w
         |GROUP BY w.width""".stripMargin
    s"""WITH o AS MATERIALIZED (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 7 <> 3),
       |r AS MATERIALIZED (SELECT min(k) AS lo, max(k) AS hi FROM o)
       |${leg(16)}
       |UNION ALL
       |${leg(256)}
       |ORDER BY n_buckets""".stripMargin
  }

  // --------- stats-index-driven join strategy (q306)
  /** The cost-model hookup seeded (VERDICT r15 #10): the join strategy
    * for orders ⨝ customer is DECIDED from the standing stats indexes —
    * [[graft.ops.StatsCbo]] reads each side's row count from its
    * per-value frame (orders from q303's index, i.e. the
    * post-retraction final state; customer from its own), prices both
    * sides under the q264 width model, and applies the pick as a
    * broadcast hint. The oracle recomputes the row counts AND the
    * decision in SQL (counts via subqueries, the pick as the same
    * integer arithmetic), so the advisor's choice is itself oracled
    * next to the join's content. Neither fact table is scanned for the
    * decision. The plan-shape half — the pick actually landing as
    * BroadcastHashJoin and flipping with the threshold — is pinned in
    * StatsIndexSpec under a disabled auto-broadcast threshold. */
  private def q306(s: SparkSession, d: String): DataFrame = {
    val oName = q303Index(s, d)
    val cName = "q306_statsidx_c_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val cMarker = cName + "_built"
    if (!s.catalog.tableExists(cMarker)) {
      graft.ops.StatsIndex.write(
        t(s, d, "customer").select(lit("col:c_custkey").as("stat_key"),
          col("c_custkey").cast(DoubleType).as("nv"), lit(null: String).as("sv")),
        cName)
      s.range(1).createOrReplaceTempView(cMarker)
    }
    val a = graft.ops.StatsCbo.sideStats(s, oName, "col:o_custkey", 32L)
    val b = graft.ops.StatsCbo.sideStats(s, cName, "col:c_custkey", 40L)
    val dec = graft.ops.StatsCbo.Decision(a, b)
    val joined = graft.ops.StatsCbo.join(
      t(s, d, "orders").where(col("o_orderkey") % 7 =!= 3)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
      Seq("c_custkey"), dec)
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"))
      .select(col("c_mktsegment"), col("n_orders"), col("revenue"),
        lit(a.rows).as("orders_rows"), lit(b.rows).as("customer_rows"),
        lit(dec.broadcastB).as("broadcast_customer"))
      .sortedOut("c_mktsegment")
  }

  private val q306Sql =
    """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 3),
      |no AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer)
      |SELECT c.c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  no.n AS orders_rows, nc.n AS customer_rows,
      |  (nc.n * 40 <= 10485760 AND nc.n * 40 <= no.n * 32) AS broadcast_customer
      |FROM o JOIN customer c ON o.o_custkey = c.c_custkey
      |CROSS JOIN no CROSS JOIN nc
      |GROUP BY c.c_mktsegment, no.n, nc.n
      |ORDER BY c_mktsegment""".stripMargin

  // --------- standing materialized view: exact IVM under retraction (q308)
  /** Incremental view maintenance as a STANDING index
    * ([[graft.ops.MvIndex]]) — the materialized-view member of the
    * standing-index family: a group-by COUNT/SUM/AVG view over
    * lineitem maintained under an append AND a retraction (write on
    * two-thirds, append the rest, retract every l_orderkey % 7 == 3
    * row — the q303 lifecycle), served by merging O(groups × segments)
    * partial rows with NO fact re-scan. Count and sum form an
    * invertible monoid, so unlike q303's value-grain stats the
    * maintenance state here is one row per (segment, group). The
    * oracle aggregates the FINAL state from scratch — the proof the
    * negated-partial fold is exact, including the fully-cancelled
    * groups that must vanish. q105 is the one-shot two-batch merge of
    * the same algebra; this is its standing, retractable, crash-safe
    * form. Build once per (session, sf); the timed surface is the
    * serve. */
  private def q308Index(s: SparkSession, d: String): String = {
    val name = "q308_mvidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val marker = name + "_built"
    if (!s.catalog.tableExists(marker)) {
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), col("l_linestatus"),
        d184(col("l_quantity")).as("qty"), d184(col("l_extendedprice")).as("price"))
      graft.ops.MvIndex.write(li.where(col("l_orderkey") % 3 =!= 2), name,
        keys = Seq("l_returnflag", "l_linestatus"), measures = Seq("qty", "price"))
      graft.ops.MvIndex.append(li.where(col("l_orderkey") % 3 === 2), name)
      graft.ops.MvIndex.retract(li.where(col("l_orderkey") % 7 === 3), name)
      s.range(1).createOrReplaceTempView(marker)
    }
    name
  }

  private def q308(s: SparkSession, d: String): DataFrame =
    graft.ops.MvIndex.serve(s, q308Index(s, d))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        dbl(col("sum_qty")).as("sum_qty"), dbl(col("sum_price")).as("sum_price"),
        (dbl(col("sum_price")) / col("n").cast(DoubleType)).as("avg_price"))
      .sortedOut("l_returnflag", "l_linestatus")

  private val q308Sql =
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |   / CAST(count(*) AS DOUBLE) AS avg_price
      |FROM lineitem WHERE l_orderkey % 7 <> 3
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------- join-MV maintained from fact deltas (q309)
  /** The join form of IVM: revenue per nation over lineitem ⨝ orders ⨝
    * customer ⨝ nation, maintained from LINEITEM deltas alone — each
    * batch is enriched through the dimension path (Δfact ⨝ dims, the
    * standing view is never re-joined), folded as per-nation partials,
    * and a retraction negates the same enrichment, so takedowns flow
    * through the join without touching the other three tables' history.
    * Revenue is exact decimal (price × (1−discount) at DECIMAL(18,4)
    * inputs), so append/retract cancellation is bit-exact. The oracle
    * re-runs the whole 4-way join + aggregate on the final state.
    *
    * Scale shape: maintenance cost ∝ Δ ⨝ dims (nation broadcast; the
    * orders/customer legs are key-equi shuffles of the DELTA, not the
    * corpus); the serve merges |nations| × segments partial rows. */
  private def q309(s: SparkSession, d: String): DataFrame = {
    val name = "q309_mvidx_rev_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val marker = name + "_built"
    if (!s.catalog.tableExists(marker)) {
      val orders = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nation = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      def enrich(liBatch: DataFrame): DataFrame = liBatch
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (d184(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 4)) - d184(col("l_discount")))).as("rev"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      graft.ops.MvIndex.write(enrich(li.where(col("l_orderkey") % 3 =!= 2)), name,
        keys = Seq("n_name"), measures = Seq("rev"))
      graft.ops.MvIndex.append(enrich(li.where(col("l_orderkey") % 3 === 2)), name)
      graft.ops.MvIndex.retract(enrich(li.where(col("l_orderkey") % 7 === 3)), name)
      s.range(1).createOrReplaceTempView(marker)
    }
    graft.ops.MvIndex.serve(s, name)
      .select(col("n_name"), col("n"), dbl(col("sum_rev")).as("sum_revenue"))
      .sortedOut("n_name")
  }

  private val q309Sql =
    """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
      |   * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_orderkey % 7 <> 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------- MV as aggregate navigator: roll-up answering (q310)
  /** The reason materialized views exist: one fine-grain view answers
    * every roll-up above it. GROUP BY l_returnflag is served from
    * q308's standing (l_returnflag, l_linestatus) partials —
    * [[graft.ops.MvIndex.serveRollup]] re-folds counts and sums (both
    * monoidal) over ≤ |groups| rows; the fact table is never scanned
    * and the retraction baked into the view flows through for free.
    * The oracle computes the coarse aggregate from scratch on the
    * final state — roll-up-from-partials must be indistinguishable
    * from aggregate-from-rows. */
  private def q310(s: SparkSession, d: String): DataFrame =
    graft.ops.MvIndex.serveRollup(s, q308Index(s, d), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"),
        dbl(col("sum_qty")).as("sum_qty"), dbl(col("sum_price")).as("sum_price"),
        (dbl(col("sum_price")) / col("n").cast(DoubleType)).as("avg_price"))
      .sortedOut("l_returnflag")

  private val q310Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |   / CAST(count(*) AS DOUBLE) AS avg_price
      |FROM lineitem WHERE l_orderkey % 7 <> 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------- MV aggregate-navigator choice + answer (q311)
  /** The navigator DECIDING, not just folding: two standing views
    * cover GROUP BY l_returnflag — q308's fine (returnflag, linestatus)
    * grain and a purpose-built coarse (returnflag) view maintained
    * through the same append/retract lifecycle —
    * [[graft.ops.MvIndex.answerFrom]] must pick the COARSE one (fewest
    * keys = fewest standing rows to fold) and answer from it without
    * touching lineitem. The output pins both the decision (a boolean
    * the oracle asserts) and the answer (the from-scratch aggregate of
    * the final state): a wrong choice that still answers correctly
    * fails the boolean; a right choice that folds wrongly fails the
    * rows. */
  private def q311(s: SparkSession, d: String): DataFrame = {
    val fine = q308Index(s, d)
    val coarse = "q311_mvidx_rf_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val marker = coarse + "_built"
    if (!s.catalog.tableExists(marker)) {
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), d184(col("l_quantity")).as("qty"))
      graft.ops.MvIndex.write(li.where(col("l_orderkey") % 3 =!= 2), coarse,
        keys = Seq("l_returnflag"), measures = Seq("qty"))
      graft.ops.MvIndex.append(li.where(col("l_orderkey") % 3 === 2), coarse)
      graft.ops.MvIndex.retract(li.where(col("l_orderkey") % 7 === 3), coarse)
      s.range(1).createOrReplaceTempView(marker)
    }
    val (chosen, rolled) = graft.ops.MvIndex.answerFrom(s, Seq(fine, coarse),
      keys = Seq("l_returnflag"), measures = Seq("qty"))
    rolled
      .select(col("l_returnflag"), col("n"), dbl(col("sum_qty")).as("sum_qty"),
        lit(chosen == coarse).as("served_from_coarse"))
      .sortedOut("l_returnflag")
  }

  private val q311Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | TRUE AS served_from_coarse
      |FROM lineitem WHERE l_orderkey % 7 <> 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------- transparent MV rewrite through the optimizer (q312)
  /** The warehouse feature the MV family builds to: the query below is
    * a PLAIN from-scratch aggregate over the lineitem scan — no MvIndex
    * call in sight — and [[graft.plans.RewriteMvAggregate]] (injected
    * via GraftExtensions, gated `spark.graft.mvRewrite`) substitutes
    * the standing lockstep view registered for that scan. The query
    * REQUIRES the substitution (a plan assertion fails loudly if the
    * fact table is still scanned — silently reverting to a fact scan
    * would pass the oracle while losing the feature), materializes
    * under the gate, and restores the gate so no other query in the
    * session can be silently retargeted. The oracle is the from-scratch
    * SQL — the rewrite must be indistinguishable by results, coarser
    * GROUP BY included (navigator roll-up law through the optimizer).
    * MvRewriteSpec pins the negative space: filters, foreign measure
    * expressions, DISTINCT, and gate-off all still scan the fact. */
  /** q312/q313's shared lockstep view over the lineitem scan. */
  private def q312View(s: SparkSession, d: String): Unit = {
    val name = "q312_mvidx_ls_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val marker = name + "_built"
    if (!s.catalog.tableExists(marker)) {
      graft.ops.MvIndex.writeFromSource(s, s"$d/lineitem.parquet", name,
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          "qty" -> "CAST(l_quantity AS DECIMAL(18,4))",
          "price" -> "CAST(l_extendedprice AS DECIMAL(18,4))"))
      s.range(1).createOrReplaceTempView(marker)
    }
  }

  /** Run `mk`'s aggregate UNDER the rewrite gate, require the fact scan
    * was substituted away, and materialize before restoring the gate (a
    * lazy return would re-plan gate-off in the harness). */
  private def underMvRewrite(s: SparkSession, factFile: String)
                            (mk: => DataFrame): DataFrame = {
    s.conf.set("spark.graft.mvRewrite", "true")
    try {
      val out = mk
      val factScan = out.queryExecution.optimizedPlan.collectFirst {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.exists(_.toString.contains(factFile)) => lr
      }
      require(factScan.isEmpty,
        s"transparent MV rewrite did not fire — the aggregate still scans $factFile")
      val rows = out.collect().toIndexedSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    } finally s.conf.set("spark.graft.mvRewrite", "false")
  }

  private def q312(s: SparkSession, d: String): DataFrame = {
    q312View(s, d)
    underMvRewrite(s, "lineitem.parquet") {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS DECIMAL(18,4))")).as("sq"),
          sum(expr("CAST(l_extendedprice AS DECIMAL(18,4))")).as("sp"))
        .select(col("l_returnflag"), col("n"),
          dbl(col("sq")).as("sum_qty"), dbl(col("sp")).as("sum_price"))
    }.sortedOut("l_returnflag")
  }

  private val q312Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // --------- filtered aggregate through the MV rewrite (q313)
  /** The dashboard shape: `WHERE l_linestatus = 'F' GROUP BY
    * l_returnflag` — the predicate constrains a view KEY, so every row
    * of a fine-grain group shares its truth value and filtering the
    * standing partials is exactly filtering the rows.
    * [[graft.plans.RewriteMvAggregate]] transplants the predicate onto
    * the served partials and rolls up; the fact table is never read
    * (plan-asserted), and the oracle runs the filtered aggregate from
    * scratch. A predicate on any NON-key column refuses to rewrite
    * (MvRewriteSpec pins it) — the view cannot see inside a group. */
  private def q313(s: SparkSession, d: String): DataFrame = {
    q312View(s, d)
    underMvRewrite(s, "lineitem.parquet") {
      t(s, d, "lineitem")
        .where(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS DECIMAL(18,4))")).as("sq"))
        .select(col("l_returnflag"), col("n"), dbl(col("sq")).as("sum_qty"))
    }.sortedOut("l_returnflag")
  }

  private val q313Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_linestatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------- weighted sampling without replacement / PPSWOR (q199)
  /** Priority sampling (Duffield–Lund–Thorup): every document gets a
    * deterministic pseudo-random priority `w·2⁴⁰ div (u+1)` — weight
    * `n_chars` over a uniform 40-bit draw `u = h60(doc_id) div 2²⁰`
    * from the engine-wide seeded md5-60 — and the sample is the top-k
    * priorities PER STRATUM (lang). Unlike the Bernoulli designs
    * (q127 temperature, q173 distribution-match) the sample size is
    * EXACT, not expected, and weight-proportional inclusion comes from
    * the priority order itself. All arithmetic is integral (LONG:
    * `w ≤ 2²⁰`, so `w·2⁴⁰ < 2⁶³`; both engines' integer division
    * floors non-negatives identically), the order is totalized by a
    * doc_id tiebreak, so the SELECTED SET — not a distributional
    * property of it — exact-matches. Census per lang: k check, total
    * vs selected weight mass, the (k+1)-exclusive threshold proxy
    * `min_prio`, and id checksums pinning membership.
    *
    * Scale shape: priorities are a narrow per-row projection; the
    * top-k per stratum runs on the native [[TopKPerKey]] plan — a
    * partial per-partition heap before the shuffle, so only
    * `|strata|·k` rows ever cross the exchange (the q69 operator, not
    * a row_number window that sorts whole partitions). */
  private def q199(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        shiftright(graft.text.Hashing.h60(col("doc_id")), 20).as("u40"))
      .withColumn("prio",
        expr("CAST(n_chars AS BIGINT) * 1099511627776 div (u40 + 1)"))
    val sel = graft.plans.TopKPerKey.topK(docs, Seq("lang"),
      Seq(col("prio").desc, col("doc_id").asc), 50)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_selected"),
        sum(col("n_chars")).as("w_selected"),
        min(col("prio")).as("min_prio"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("doc_id") * col("doc_id")).as("id_sq_sum"))
    val tot = Tables.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum(col("n_chars")).as("w_total"))
    sel.join(tot, Seq("lang")).sortedOut("lang")
  }

  private val q199Sql =
    """WITH p AS (SELECT doc_id, lang, n_chars,
      |    CAST(n_chars AS BIGINT) * 1099511627776 //
      |      (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) // 1048576 + 1) AS prio
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY prio DESC, doc_id ASC) AS rn FROM p),
      |sel AS (SELECT lang,
      |    CAST(count(*) AS BIGINT) AS n_selected,
      |    CAST(sum(n_chars) AS BIGINT) AS w_selected,
      |    CAST(min(prio) AS BIGINT) AS min_prio,
      |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |    CAST(sum(doc_id * doc_id) AS BIGINT) AS id_sq_sum
      |  FROM r WHERE rn <= 50 GROUP BY lang),
      |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(sum(n_chars) AS BIGINT) AS w_total
      |  FROM documents GROUP BY lang)
      |SELECT sel.*, tot.n_total, tot.w_total FROM sel JOIN tot USING (lang)
      |ORDER BY lang""".stripMargin

  // ------------- sliding-window outlier census, integer-exact (q200)
  /** Per-entity streaming-style anomaly flags: each order is scored
    * against its customer's TRAILING window (the 5 previous orders by
    * `(o_orderdate, o_orderkey)` — strictly before, so the point never
    * whitens its own baseline — though an outlier ALREADY INSIDE the
    * trailing window inflates σ and can mask the next few points:
    * baseline contamination is the documented trade of trailing-window
    * scoring; the
    * robust alternative at scale is a median/MAD window, which has no
    * integer-exact form). The z-score test `|x−μ| > 3σ` is kept
    * INTEGER end-to-end by clearing denominators: with n, S=Σxᵢ,
    * Q=Σxᵢ² over the window in CENTS, flag iff
    * `(n·x−S)² > 9·(n·Q−S²)` — exactly `(x−μ)² > 9σ²·n²/n²` scaled by
    * n², no division, no sqrt, no fp anywhere (LONG-safe:
    * cents ≤ 5·10⁷, so `n·x ≤ 2.5·10⁸` and every square
    * `≤ 6.25·10¹⁶ ≪ 2⁶³`). Windows need ≥3 points and nonzero
    * variance (a constant window flags any deviation). Census per
    * order-year: evaluated/flagged counts, flagged cents mass, and an
    * orderkey checksum pinning WHICH orders flagged.
    *
    * Scale shape: one customer-keyed shuffle; the window state is a
    * bounded 5-row frame (Spark's sliding-frame aggregation keeps
    * running sums, not the partition); the year rollup is
    * map-side-combinable on top. The cents quantization
    * `round(x·100)` is the same IEEE double op in both engines. */
  private def q200(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(-5, -1)
    val scored = t(s, d, "orders")
      .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("ws", sum(col("cents")).over(w))
      .withColumn("wq", sum(col("cents") * col("cents")).over(w))
      .withColumn("dev", col("wn") * col("cents") - col("ws"))
      .withColumn("varn2", col("wn") * col("wq") - col("ws") * col("ws"))
      .withColumn("eval", col("wn") >= 3 && col("varn2") > 0)
      .withColumn("flag", col("eval") &&
        col("dev") * col("dev") > col("varn2") * 9)
    scored.groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(when(col("eval"), 1L).otherwise(0L)).as("n_evaluated"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("flag"), col("cents")).otherwise(0L)).as("flagged_cents"),
        sum(when(col("flag"), col("o_orderkey")).otherwise(0L)).as("flagged_key_sum"))
      .sortedOut("yr")
  }

  private val q200Sql =
    """WITH s AS (SELECT o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    count(*) OVER w AS wn,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS ws,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) * CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS wq
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
      |f AS (SELECT *,
      |    wn >= 3 AND (wn * wq - ws * ws) > 0 AS eval,
      |    wn >= 3 AND (wn * wq - ws * ws) > 0
      |      AND (wn * cents - ws) * (wn * cents - ws) > (wn * wq - ws * ws) * 9 AS flag
      |  FROM s)
      |SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(sum(CASE WHEN eval THEN 1 ELSE 0 END) AS BIGINT) AS n_evaluated,
      |  CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(sum(CASE WHEN flag THEN cents ELSE 0 END) AS BIGINT) AS flagged_cents,
      |  CAST(sum(CASE WHEN flag THEN o_orderkey ELSE 0 END) AS BIGINT) AS flagged_key_sum
      |FROM f GROUP BY 1 ORDER BY yr""".stripMargin

  // ------------------- Benford first-digit audit, integer-exact (q202)
  /** The forensic data-quality screen: leading-digit frequencies of
    * order amounts vs Benford's law. Fabricated or unit-mangled
    * financial columns drift from log₁₀(1+1/d); a census that runs at
    * ingest catches it before a model trains on it. Kept integer
    * end-to-end: the leading digit comes from the BIGINT cents
    * rendering (leading digit is invariant under the ×100 scaling;
    * BIGINT→string is identical in both engines, no fp formatting),
    * observed shares are parts-per-million by integer division, and
    * the Benford reference is the SAME hardcoded ppm literals on both
    * sides (so the deviation column is exact, not a log race).
    *
    * Scale shape: one map-side-combinable 9-group aggregate; the ppm
    * arithmetic happens on the 9-row result. */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val benford = typedLit(Map(
      "1" -> 301030L, "2" -> 176091L, "3" -> 124939L, "4" -> 96910L,
      "5" -> 79181L, "6" -> 66947L, "7" -> 57992L, "8" -> 51153L,
      "9" -> 45757L))
    val digits = t(s, d, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast(LongType)
        .cast(StringType), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("tot"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div tot").as("obs_ppm"),
        benford(col("digit")).as("benford_ppm"),
        (expr("n * 1000000 div tot") - benford(col("digit"))).as("dev_ppm"))
      .sortedOut("digit")
  }

  private val q202Sql =
    """WITH d AS (
      |  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM d),
      |b(digit, benford_ppm) AS (VALUES ('1', 301030), ('2', 176091),
      |  ('3', 124939), ('4', 96910), ('5', 79181), ('6', 66947),
      |  ('7', 57992), ('8', 51153), ('9', 45757))
      |SELECT d.digit, d.n,
      |  CAST(d.n * 1000000 // t.tot AS BIGINT) AS obs_ppm,
      |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
      |  CAST(d.n * 1000000 // t.tot - b.benford_ppm AS BIGINT) AS dev_ppm
      |FROM d JOIN b USING (digit) CROSS JOIN t ORDER BY digit""".stripMargin

  // ----------------- group-wise OLS trend, cleared denominators (q203)
  /** Per-segment linear trend (is this order-priority's spend rising?)
    * with the normal-equation fractions kept EXACT until the last
    * step: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over x =
    * epoch-day, y = cents. Every sum and both cleared numerator/
    * denominator are DECIMAL(38,0) integers (n·Σxy peaks ~10²⁰ — past
    * LONG, nowhere near 38 digits), so the only fp ops are the final
    * two decimal→double conversions and one IEEE division — identical
    * in both engines, which is what lets a regression coefficient be
    * hash-matched at all. Intercept follows as (Σy − slope·Σx)/n from
    * the same exact ingredients. The no-variance edge (a single
    * distinct x in a group) nulls the slope on both sides rather than
    * dividing by zero.
    *
    * Scale shape: one map-side-combinable aggregate per group carrying
    * five sums; the algebra runs on the |groups|-row result. This is
    * the q154/q175 fixed-point discipline applied to model fitting —
    * the 100 TB path for ANY per-group OLS is these five sums, never a
    * per-group collect. */
  private def q203(s: SparkSession, d: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val base = t(s, d, "orders")
      .select(col("o_orderpriority").as("prio"),
        datediff(col("o_orderdate").cast(DateType), lit("1970-01-01")
          .cast(DateType)).cast(LongType).as("x"),
        round(col("o_totalprice") * 100).cast(LongType).as("y"))
    val sums = base.groupBy("prio").agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    sums.select(col("prio"), col("n"),
        (dec(col("n")) * col("sxy") - col("sx") * col("sy")).as("num"),
        (dec(col("n")) * col("sxx") - col("sx") * col("sx")).as("den"),
        col("sx"), col("sy"))
      .select(col("prio"), col("n"), col("sx"), col("sy"),
        when(col("den") =!= 0,
          col("num").cast(DoubleType) / col("den").cast(DoubleType))
          .as("slope_cents_per_day"))
      .withColumn("intercept_cents",
        when(col("slope_cents_per_day").isNotNull,
          (col("sy").cast(DoubleType) - col("slope_cents_per_day") *
            col("sx").cast(DoubleType)) / col("n").cast(DoubleType)))
      .select(col("prio"), col("n"), col("slope_cents_per_day"),
        col("intercept_cents"))
      .sortedOut("prio")
  }

  private val q203Sql =
    """WITH base AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
      |  FROM orders),
      |sums AS (
      |  SELECT prio, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy
      |  FROM base GROUP BY prio)
      |SELECT prio, n,
      |  CASE WHEN n * sxx - sx * sx <> 0 THEN
      |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |  END AS slope_cents_per_day,
      |  CASE WHEN n * sxx - sx * sx <> 0 THEN
      |    (CAST(sy AS DOUBLE) -
      |     CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |  END AS intercept_cents
      |FROM sums ORDER BY prio""".stripMargin

  // ------------------------------ SCD2 dimension history (q103)
  /** [[RelationalOps.scd2]] over the events stream read as a CDC feed:
    * each user's `event_type` is the tracked attribute, so the history
    * is one row per type CHANGE with half-open validity intervals and
    * an `is_current` flag. `event_id` tiebreaks equal timestamps into
    * a total order (the fixture duplicates (user_id, ts)); intervals
    * are exported as epoch millis per the events-ts convention. */
  private def q103(s: SparkSession, d: String): DataFrame =
    RelationalOps.scd2(
        // ts enters pre-truncated to epoch millis so BOTH engines
        // order (and therefore collapse) at the same precision — at
        // raw µs/ns precision a sub-ms gap could order differently
        // here than in the oracle's epoch_ms view
        Tables.events(s, d).select(col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("event_id"), col("event_type")),
        key = Seq("user_id"), ts = "ts_ms", attrs = Seq("event_type"),
        tieBreak = Seq("event_id"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from").as("from_ms"), col("valid_to").as("to_ms"),
        col("is_current"))
      .sortedOutWide("user_id", "version")

  private val q103Sql =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |s AS (SELECT *, lag(event_type) OVER w AS prev FROM e
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |c AS (SELECT * FROM s WHERE prev IS NULL OR prev != event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS INTEGER) AS version,
      |  event_type,
      |  ts_ms AS from_ms,
      |  lead(ts_ms) OVER w AS to_ms,
      |  lead(ts_ms) OVER w IS NULL AS is_current
      |FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |ORDER BY user_id, version""".stripMargin

  // --------------------- incremental aggregate refresh (q105)
  /** [[RelationalOps.mergeAggState]] as a query: the standing per-
    * customer order stats (count, exact-decimal revenue, latest order
    * date) are built from a historical split, then refreshed with the
    * remaining orders as the "daily batch" — and the merged state must
    * equal the from-scratch aggregate the oracle computes over the
    * whole table. Split point chosen mid-fixture so both sides are
    * non-trivial at every SF. */
  private def q105(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_custkey"),
      col("o_orderdate").cast(DateType).as("od"), d184(col("o_totalprice")).as("pr"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"), sum(col("pr")).as("revenue"),
        max(col("od")).as("last_order"))
    val cut = lit("1995-01-01").cast(DateType)
    val merged = RelationalOps.mergeAggState(
      partial(o.where(col("od") < cut)), partial(o.where(col("od") >= cut)),
      keys = Seq("o_custkey"),
      measures = Seq(("n_orders", "sum"), ("revenue", "sum"), ("last_order", "max")))
    merged.select(col("o_custkey"), col("n_orders"),
        dbl(col("revenue")).as("revenue"), col("last_order"))
      .sortedOutWide("o_custkey")
  }

  private val q105Sql =
    """SELECT o_custkey, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      | max(CAST(o_orderdate AS DATE)) AS last_order
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ------------------- data-quality expectations report (q108)
  /** [[graft.ops.Expectations]] over the orders feed: the five check
    * kinds in ONE aggregate pass, reporting (check, metric, threshold,
    * pass). Deterministic counts/extrema → exact oracle; the
    * thresholds are chosen so the fixture yields a mixed pass/fail
    * report (a report that can't fail proves nothing). */
  private def q108(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Expectations._
    report(t(s, d, "orders"), Seq(
        NonNullRate("o_custkey", 0.99),
        UniqueKey(Seq("o_orderkey")),
        RowCountBetween(1L, 100000000L),
        ValuesIn("o_orderstatus", Seq("F", "O")), // fixture also has P -> fails
        InRange("o_totalprice", 0.0, 1000.0)))    // fixture exceeds -> fails
      .withColumnRenamed("check", "check_name")
      .sortedOutWide("check_name")
  }

  private val q108Sql =
    """WITH m AS (SELECT count(*) AS n,
      |  CAST(count(o_custkey) AS DOUBLE) AS m0,
      |  CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS m1,
      |  CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
      |        AND o_orderstatus NOT IN ('F','O') THEN 1 ELSE 0 END) AS DOUBLE) AS m3,
      |  CAST(min(o_totalprice) AS DOUBLE) AS mn4,
      |  CAST(max(o_totalprice) AS DOUBLE) AS mx4
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 'non_null_rate(o_custkey)' AS check_name,
      |         m0 / CAST(greatest(n, 1) AS DOUBLE) AS metric,
      |         '>= 0.99' AS threshold,
      |         m0 / CAST(greatest(n, 1) AS DOUBLE) >= 0.99 AS pass FROM m
      |  UNION ALL
      |  SELECT 'unique_key(o_orderkey)', m1, '= row count', m1 = CAST(n AS DOUBLE) FROM m
      |  UNION ALL
      |  SELECT 'row_count[1,100000000]', CAST(n AS DOUBLE), '[1, 100000000]',
      |         n >= 1 AND n <= 100000000 FROM m
      |  UNION ALL
      |  SELECT 'values_in(o_orderstatus)', m3, '0 violations', m3 = 0 FROM m
      |  UNION ALL
      |  SELECT 'in_range(o_totalprice)', mx4, '[0.0, 1000.0]',
      |         mn4 >= 0.0 AND mx4 <= 1000.0 FROM m)
      |ORDER BY check_name""".stripMargin

  // ------------------------ weekly cohort retention (q109)
  /** Classic cohort-retention analysis: users grouped by first-active
    * week, counted in every later week they return — the
    * engagement-over-time read every event pipeline reports. ONE
    * shuffle keyed by user builds the per-user active-week SET
    * (bounded by the corpus' week span — 5 here, ~52/year at 100 TB —
    * never the raw event list), and the exploded (cohort, offset)
    * count is map-side combinable. The week index is
    * floor(epoch/604800): pure integer-range arithmetic with no
    * calendar semantics to diverge across engines, and a sub-second
    * fraction can never roll a value across a week boundary (the
    * boundary is a whole-second multiple). */
  private def q109(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        floor(col("ts").cast("long") / lit(604800.0)).cast("long").as("wk"))
      .groupBy("user_id")
      .agg(min(col("wk")).as("cohort_wk"), collect_set(col("wk")).as("wks"))
      .select(col("cohort_wk"), explode(col("wks")).as("wk"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .sortedOut("cohort_wk", "week_offset")

  private val q109Sql =
    """WITH uw AS (SELECT DISTINCT user_id,
      |              CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events),
      | c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1)
      |SELECT c.cohort_wk, uw.wk - c.cohort_wk AS week_offset, count(*) AS n_users
      |FROM uw JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------- ordered three-step funnel (q110)
  /** Ordered funnel (view → click → purchase): per user, the first
    * view, the first click at-or-after it, and the first purchase
    * at-or-after that click — the ORDER-sensitive sequence measure a
    * per-step unconditional min cannot express (a purchase before any
    * view must not count). ONE shuffle: the per-user funnel events are
    * collected once (only the three step types survive the scan
    * filter) and each step is an array filter+min over that list — no
    * self-joins, no windows, and the chained mins are purely numeric,
    * so the result is independent of collection order. Seconds
    * granularity on both engines (ties compare >=). */
  private def q110(s: SparkSession, d: String): DataFrame =
    RelationalOps.funnelSteps(Tables.events(s, d),
        entity = col("user_id"), orderKey = col("ts").cast("long"),
        stepType = col("event_type"), steps = Seq("view", "click", "purchase"))
      .withColumnRenamed("entity", "user_id")
      .sortedOutWide("user_id")

  private val q110Sql =
    """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_type
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      | u AS (SELECT DISTINCT user_id FROM e),
      | v AS (SELECT user_id, min(tsec) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
      | c AS (SELECT e.user_id, min(tsec) AS t_click FROM e JOIN v USING (user_id)
      |       WHERE event_type = 'click' AND tsec >= t_view GROUP BY 1),
      | p AS (SELECT e.user_id, min(tsec) AS t_purchase FROM e JOIN c USING (user_id)
      |       WHERE event_type = 'purchase' AND tsec >= t_click GROUP BY 1)
      |SELECT u.user_id, t_view, t_click, t_purchase,
      | CASE WHEN t_purchase IS NOT NULL THEN 3 WHEN t_click IS NOT NULL THEN 2
      |      WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS step_reached
      |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |       LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // -------------------- half-life decayed engagement (q111)
  /** Recency-weighted engagement score per user (the freshness prior a
    * training mix applies to interaction data): each event in the last
    * 16 days contributes floor(100·value) · 2^(15 − age_days), a
    * one-day half-life expressed ENTIRELY in integer arithmetic — the
    * decay is a left shift, so the sum is exact, order-independent,
    * and engine-identical (no float accumulation to diverge under
    * repartitioning). The reference day is the corpus max: ONE scalar
    * aggregate broadcast back over the scan (the BM25 stats pattern),
    * not a driver-side constant. Bound: 100·value < 2^16, shift ≤ 15,
    * so even 2^30 events per user cannot overflow the long. */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"),
      floor(col("ts").cast("long") / lit(86400.0)).cast("long").as("day"),
      col("value"))
    val ref = e.agg(max(col("day")).as("ref_day"))
    e.crossJoin(broadcast(ref))
      .where(col("ref_day") - col("day") <= 15)
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100).cast("long") *
        call_function("shiftleft", lit(1L),
          (lit(15) - (col("ref_day") - col("day"))).cast("int"))).as("score"))
      .sortedOutWide("user_id")
  }

  private val q111Sql =
    """WITH e AS (SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, value
      |           FROM events),
      | r AS (SELECT max(day) AS ref_day FROM e)
      |SELECT user_id,
      | CAST(sum(CAST(floor(value * 100) AS BIGINT)
      |          * (CAST(1 AS BIGINT) << CAST(15 - (ref_day - day) AS INTEGER))) AS BIGINT) AS score
      |FROM e CROSS JOIN r
      |WHERE ref_day - day <= 15
      |GROUP BY 1 ORDER BY user_id""".stripMargin

  // -------------------------- weighted trade-graph PageRank (q117)
  /** Which nations sit at the center of the trade network: weighted
    * PageRank over the customer-nation → supplier-nation graph, edge
    * weight = revenue flow (exact DECIMAL(18,4) sum, exported as
    * integer 10⁻⁴ currency units). [[graft.ops.Graph.pageRank]], 3
    * power iterations, d = 0.85.
    *
    * Scale shape: the fact-table joins (lineitem ⋈ orders shuffles on
    * orderkey; customer/supplier dims broadcast) collapse 100 TB of
    * line items into a ≤ N² edge list ONCE; every iteration after that
    * is a shuffle bounded by |edges|, never the fact table. Every
    * double sum inside the iteration is an ordered sequential fold, so
    * the rank VALUES (not just the ranking) hash-match the oracle's
    * unrolled 3-iteration SQL. */
  private def q117(s: SparkSession, d: String): DataFrame =
    q117With(s, d, graft.ops.Graph.pageRank(_, _, _))

  /** q117 over any PageRank body with [[graft.ops.Graph.pageRank]]'s
    * (edges, nodes, iters) signature — PlanShapeSpec pins the plan of
    * the distributed one too. */
  private[graft] def q117With(s: SparkSession, d: String,
                              rank: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      d184(col("l_extendedprice")).as("price"))
    val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
    val supp = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"), col("price"))
      .groupBy("src", "dst")
      .agg((sum(col("price")) * lit(10000)).cast(LongType).as("w"))
    val nation = t(s, d, "nation")
    val pr = rank(edges, nation.select("n_nationkey"), 3)
    pr.join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        pr("node") === col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"), col("rank"))
      .sortedOut("n_nationkey")
  }

  /** Mirrors Graph.pageRank exactly: same fold orders (`list_sum(list(c
    * ORDER BY src))` = Spark's sorted-struct fold), same literal
    * arithmetic shapes ((1.0-0.85)/N computed at runtime on both
    * sides), uniform dangling redistribution included even though the
    * fixture graph has none — the oracle must mirror the OPERATOR, not
    * the fixture. */
  private val q117Sql = {
    def iter(prev: String, cur: String) =
      s"""d$cur AS (
         |  SELECT coalesce(list_sum(list(rank ORDER BY node)), 0.0) AS dang
         |  FROM r$prev WHERE node NOT IN (SELECT DISTINCT src FROM e)),
         |i$cur AS (
         |  SELECT e.dst, e.src, r.rank * e.frac AS c
         |  FROM e JOIN r$prev r ON e.src = r.node),
         |s$cur AS (SELECT dst, list_sum(list(c ORDER BY src)) AS inflow
         |          FROM i$cur GROUP BY dst),
         |r$cur AS (
         |  SELECT n.node,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         |           + CAST(0.85 AS DOUBLE) * (coalesce(s.inflow, CAST(0.0 AS DOUBLE)) + d.dang / nn.n) AS rank
         |  FROM nodes n LEFT JOIN s$cur s ON n.node = s.dst
         |  CROSS JOIN d$cur d CROSS JOIN nn)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |wout AS (SELECT src, CAST(sum(w) AS BIGINT) AS wo FROM e0 GROUP BY 1),
       |e AS (SELECT e0.src, e0.dst, CAST(e0.w AS DOUBLE) / CAST(wout.wo AS DOUBLE) AS frac
       |      FROM e0 JOIN wout ON e0.src = wout.src),
       |nodes AS (SELECT n_nationkey AS node FROM nation),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT r3.node AS n_nationkey, na.n_name, r3.rank
       |FROM r3 JOIN nation na ON na.n_nationkey = r3.node
       |ORDER BY n_nationkey""".stripMargin
  }

  // ------------------- HITS hubs & authorities on the trade graph (q136)
  /** [[graft.ops.Graph.hits]] on q117's nation→nation trade-volume
    * graph: hubs = nations whose purchasing concentrates on the
    * best-supplying nations, authorities = nations the heavy buyers
    * source from — the directed-centrality pair a link-graph curation
    * mix wants next to PageRank. Same scale contract as q117: the fact
    * table collapses to the ≤N² edge list once, each of the 2 rounds
    * is |edges|-bounded, every double sum is an ordered fold so hub
    * AND auth VALUES hash-match the unrolled oracle. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      d184(col("l_extendedprice")).as("price"))
    val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
    val supp = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"), col("price"))
      .groupBy("src", "dst")
      .agg((sum(col("price")) * lit(10000)).cast(LongType).as("w"))
    val nation = t(s, d, "nation")
    val hs = graft.ops.Graph.hits(edges, nation.select("n_nationkey"), iters = 2)
    hs.join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        hs("node") === col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"), col("hub"), col("auth"))
      .sortedOut("n_nationkey")
  }

  /** Mirrors Graph.hits exactly: L1 normalizers and per-node inflows
    * as `list_sum(list(c ORDER BY ...))` — the same ordered-fold
    * convention q117 pins. */
  private val q136Sql = {
    def round(prev: String, cur: String) =
      s"""ar$cur AS (
         |  SELECT e.dst, e.src, h.hub * e.w AS c
         |  FROM e JOIN h$prev h ON e.src = h.node),
         |asum$cur AS (SELECT dst, list_sum(list(c ORDER BY src)) AS raw
         |             FROM ar$cur GROUP BY dst),
         |aall$cur AS (SELECT n.node, coalesce(s.raw, CAST(0.0 AS DOUBLE)) AS raw
         |             FROM nodes n LEFT JOIN asum$cur s ON n.node = s.dst),
         |atot$cur AS (SELECT list_sum(list(raw ORDER BY node)) AS tot FROM aall$cur),
         |a$cur AS (SELECT node, raw / tot AS auth FROM aall$cur CROSS JOIN atot$cur),
         |hr$cur AS (
         |  SELECT e.src, e.dst, a.auth * e.w AS c
         |  FROM e JOIN a$cur a ON e.dst = a.node),
         |hsum$cur AS (SELECT src, list_sum(list(c ORDER BY dst)) AS raw
         |             FROM hr$cur GROUP BY src),
         |hall$cur AS (SELECT n.node, coalesce(s.raw, CAST(0.0 AS DOUBLE)) AS raw
         |             FROM nodes n LEFT JOIN hsum$cur s ON n.node = s.src),
         |htot$cur AS (SELECT list_sum(list(raw ORDER BY node)) AS tot FROM hall$cur),
         |h$cur AS (SELECT node, raw / tot AS hub FROM hall$cur CROSS JOIN htot$cur)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT src, dst, CAST(w AS DOUBLE) AS w FROM e0),
       |nodes AS (SELECT n_nationkey AS node FROM nation),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |h0 AS (SELECT node, 1.0 / nn.n AS hub FROM nodes CROSS JOIN nn),
       |${round("0", "1")},
       |${round("1", "2")}
       |SELECT h2.node AS n_nationkey, na.n_name, h2.hub, a2.auth
       |FROM h2 JOIN a2 ON a2.node = h2.node
       |JOIN nation na ON na.n_nationkey = h2.node
       |ORDER BY n_nationkey""".stripMargin
  }

  // ---------------- session co-occurrence / lift mining (q120)
  /** Market-basket association over behavioral sessions: which event
    * types co-occur in the same session beyond chance. Sessions are
    * q43's 30-min-gap definition; each session contributes its DISTINCT
    * type set once; support counts per pair and per type roll up with
    * lift = P(ab)/(P(a)·P(b)) as the association strength.
    *
    * Scale shape: ONE user-keyed shuffle builds sessions (the same
    * window q43 pins); each session collapses to its sorted type SET
    * (bounded by |event types|, never the event list) before anything
    * else happens; the a<b pair expansion is a per-row array transform
    * (|T|²/2 structs from a tiny array, no self-join, no extra
    * shuffle) and both count rollups combine map-side. The |T|-row
    * support table and the 1-row session count broadcast back onto the
    * |T|² output. Lift is a single (a·b)/(c·d) double expression —
    * deterministic, mirrored verbatim in the oracle (which generates
    * pairs by self-join: same set semantics, SQL-friendlier shape). */
  private def q120(s: SparkSession, d: String): DataFrame =
    sessionCoOccurrence(Tables.events(s, d))

  /** q120's kernel on any events frame with (user_id, ts, event_id,
    * event_type) — public so AdversarialSpec can drive it with a
    * power-user corpus (a mega-session, back-to-back long sessions) that
    * the fixture's uniform events never produce. */
  def sessionCoOccurrence(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapMs = 30 * 60000L
    val sess = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull || unix_millis(col("ts")) - col("prev_ms") > gapMs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val types = sess.groupBy("user_id", "sid")
      .agg(array_sort(collect_set(col("event_type"))).as("tys"))
      .persistT // feeds pair counts, per-type support, and the session count
    val nSessions = types.agg(count(lit(1)).as("n_sessions"))
    val single = types.select(explode(col("tys")).as("ty"))
      .groupBy("ty").agg(count(lit(1)).as("n"))
    val pairArr = flatten(transform(col("tys"), (x, i) =>
      transform(slice(col("tys"), i + lit(2), size(col("tys"))), y =>
        struct(x.as("a"), y.as("b")))))
    val pc = types.select(explode(pairArr).as("p"))
      .select(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
    pc.crossJoin(broadcast(nSessions))
      .join(broadcast(single.select(col("ty").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(single.select(col("ty").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_sessions"),
        ((col("n_ab").cast(DoubleType) * col("n_sessions").cast(DoubleType)) /
          (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))).as("lift"))
      .sortedOut("type_a", "type_b")
  }

  // -------------- conversation assembly with truncation (q131)
  /** Instruction-tuning data prep: each session becomes one training
    * "conversation" — turns ordered by (ts, event_id), TRUNCATED to
    * the first 8 (max-turn truncation is what real chat pipelines do,
    * and it is also what makes the state bounded: the row_number
    * filter runs BEFORE any collect, so the mega-session contributes 8
    * rows to the assembly, never 10⁵ — the q120 discipline applied to
    * ordered turn lists instead of distinct type sets). Emits the
    * turn-type sequence as a joined string (array-output rendering
    * diverges across engines; the '>' join is the q79 convention),
    * plus kept-turn count and time span. Exactly oracled. */
  private def q131(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapMs = 30 * 60000L
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val kept = sess.withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "sid").orderBy(col("ts"), col("event_id"))))
      .where(col("rn") <= 8)
    kept.groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_turns"),
        concat_ws(">", transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          t => t.getField("event_type"))).as("turns"),
        (max(col("ms")) - min(col("ms"))).as("span_ms"))
      .select(col("user_id"), col("sid").cast("long").as("sid"),
        col("n_turns"), col("turns"), col("span_ms"))
      .sortedOut("user_id", "sid")
  }

  private val q131Sql =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |y AS (
      |  SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM x),
      |z AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM y),
      |t AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
      |                                   ORDER BY ts, event_id) AS rn FROM z),
      |k AS (SELECT * FROM t WHERE rn <= 8)
      |SELECT user_id, CAST(sid AS BIGINT) AS sid,
      |       count(*) AS n_turns,
      |       string_agg(event_type, '>' ORDER BY rn) AS turns,
      |       CAST(max(epoch_ms(ts)) - min(epoch_ms(ts)) AS BIGINT) AS span_ms
      |FROM k GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  private val q120Sql =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |y AS (
      |  SELECT *, CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM x),
      |z AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM y),
      |t AS (SELECT user_id, sid, list_sort(list(DISTINCT event_type)) AS tys
      |      FROM z GROUP BY user_id, sid),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM t),
      |ex AS (SELECT user_id, sid, unnest(tys) AS ty FROM t),
      |single AS (SELECT ty, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY ty),
      |pc AS (SELECT a.ty AS type_a, b.ty AS type_b, CAST(count(*) AS BIGINT) AS n_ab
      |       FROM ex a JOIN ex b ON a.user_id = b.user_id AND a.sid = b.sid AND a.ty < b.ty
      |       GROUP BY 1, 2)
      |SELECT type_a, type_b, n_ab, sa.n AS n_a, sb.n AS n_b, n_sessions,
      |       (CAST(n_ab AS DOUBLE) * CAST(n_sessions AS DOUBLE)) /
      |         (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
      |FROM pc CROSS JOIN n
      |JOIN single sa ON sa.ty = pc.type_a
      |JOIN single sb ON sb.ty = pc.type_b
      |ORDER BY type_a, type_b""".stripMargin

  // -------------- SCD2 point-in-time lookup (q141)
  /** The standard CONSUMPTION pattern for q103's SCD2 dimension — the
    * feature-store "as-of the event" lookup: every sampled event joins
    * to the dimension version whose validity interval contains its
    * timestamp. SCD2 intervals partition each key's timeline, so the
    * join is an EQUI join on the key plus an in-row interval predicate
    * — per-key version chains are bounded (change counts, not event
    * counts), which keeps the probe a plain hash join at any corpus
    * size; un-keyed interval probes would ride the range-join rewrite
    * (q53/q68) instead. Timestamps travel pre-truncated to epoch ms
    * (q103's cross-engine precision convention). Empty intervals
    * (same-ms version flips) match nothing, so each probe lands in
    * EXACTLY one version — row count = probe count, spec-free proof
    * the interval algebra is right. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("ts_ms"), col("event_id"), col("event_type"))
    val dim = RelationalOps.scd2(ev, key = Seq("user_id"), ts = "ts_ms",
        attrs = Seq("event_type"), tieBreak = Seq("event_id"))
      .select(col("user_id").as("d_user_id"), col("version"),
        col("event_type").as("state_type"), col("valid_from"), col("valid_to"))
    val probes = ev.where(col("event_id") % 10 === 0)
    probes.join(dim,
        probes("user_id") === col("d_user_id") &&
          col("valid_from") <= col("ts_ms") &&
          (col("valid_to").isNull || col("ts_ms") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("event_type"), col("version"), col("state_type"))
      .sortedOutWide("event_id")
  }

  private val q141Sql =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |s AS (SELECT *, lag(event_type) OVER w AS prev FROM e
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |c AS (SELECT * FROM s WHERE prev IS NULL OR prev != event_type),
      |dim AS (SELECT user_id AS d_user_id,
      |          CAST(row_number() OVER w AS INTEGER) AS version,
      |          event_type AS state_type,
      |          ts_ms AS valid_from, lead(ts_ms) OVER w AS valid_to
      |        FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |p AS (SELECT event_id, user_id, ts_ms, event_type FROM e WHERE event_id % 10 = 0)
      |SELECT p.event_id, p.user_id, p.ts_ms, p.event_type, d.version, d.state_type
      |FROM p JOIN dim d ON d.d_user_id = p.user_id
      |  AND d.valid_from <= p.ts_ms
      |  AND (d.valid_to IS NULL OR p.ts_ms < d.valid_to)
      |ORDER BY p.event_id""".stripMargin

  // ------------- event-type transition matrix (q148)
  /** First-order Markov transitions over each user's event stream —
    * the behavioral fingerprint that powers next-event prediction
    * features, bot detection (improbable transition chains) and
    * session-simulation test data. For every (from, to) event-type
    * pair: the observed count and the row-normalized transition
    * probability P(to | from).
    *
    * Scale shape: ONE user-keyed shuffle (the same partitioning every
    * session query in this family rides); `lead` runs inside the
    * per-user sort, the pair count combines map-side into a ≤|T|²
    * frame, and the row normalization is a window over that tiny
    * matrix — no second pass over the events. The (ts, event_id)
    * ordering is total, so the transition stream is deterministic. */
  private def q148(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy("from_type")).cast(DoubleType))
      .sortedOut("from_type", "to_type")
  }

  private val q148Sql =
    """WITH x AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) /
      |    CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE) AS p
      |FROM t ORDER BY from_type, to_type""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q39_pivot",            q39 _, Some(q39Sql)),
    ("q40_cube",             q40 _, Some(q40Sql)),
    ("q41_percentiles",      q41 _, Some(q41Sql)),
    ("q42_asof_attribution", q42 _, Some(q42Sql)),
    ("q43_sessionization",   q43 _, Some(q43Sql)),
    ("q44_union_by_name",    q44 _, Some(q44Sql)),
    ("q45_token_topk",       q45 _, Some(q45Sql)),
    ("q46_approx_distinct",  q46 _, Some(q46Sql)),
    ("q47_ann_ivf_topk",     q47 _, Some(q47Sql)),
    ("q49_grouping_sets",    q49 _, Some(q49Sql)),
    ("q50_analytic_windows", q50 _, Some(q50Sql)),
    ("q51_centroid_udaf",    q51 _, Some(q51Sql)),
    ("q52_json_map_agg",     q52 _, Some(q52Sql)),
    ("q53_interval_join",    q53 _, Some(q53Sql)),
    ("q54_topk_per_key_udaf", q54 _, Some(q54Sql)),
    ("q55_sketch_merge",     q55 _, Some(q55Sql)),
    ("q64_salted_join",      q64 _, Some(q64Sql)),
    ("q65_stream_join_twin", q65 _, Some(q65Sql)),
    ("q67_session_window",   q67 _, Some(q67Sql)),
    ("q68_range_theta_join", q68 _, Some(q68Sql)),
    ("q69_topk_native",      q69 _, Some(q69Sql)),
    ("q76_merge_upsert",     q76 _, Some(q76Sql)),
    ("q77_sliding_window",   q77 _, Some(q77Sql)),
    ("q80_full_outer_join",  q80 _, Some(q80Sql)),
    ("q82_skew_report",      q82 _, Some(q82Sql)),
    ("q83_approx_percentile", q83 _, Some(q83Sql)),
    ("q85_vector_index_topk", q85 _, Some(q85Sql)),
    ("q91_profile_report",   q91 _, Some(q91Sql)),
    ("q96_stream_left_join_twin", q96 _, Some(q96Sql)),
    ("q98_zorder_stats",     q98 _, Some(q98Sql)),
    ("q103_scd2_history",    q103 _, Some(q103Sql)),
    ("q105_incremental_agg", q105 _, Some(q105Sql)),
    ("q108_expectations",    q108 _, Some(q108Sql)),
    ("q109_cohort_retention", q109 _, Some(q109Sql)),
    ("q110_funnel_steps",    q110 _, Some(q110Sql)),
    ("q111_decayed_engagement", q111 _, Some(q111Sql)),
    ("q117_trade_pagerank",  q117 _, Some(q117Sql)),
    ("q120_session_cooccurrence", q120 _, Some(q120Sql)),
    ("q131_conversation_assembly", q131 _, Some(q131Sql)),
    ("q136_trade_hits",      q136 _, Some(q136Sql)),
    ("q141_scd2_pit_lookup", q141 _, Some(q141Sql)),
    ("q148_event_transitions", q148 _, Some(q148Sql)),
    ("q186_quantile_sketch", q186 _, Some(q186Sql)),
    ("q189_layout_skipping", q189 _, Some(q189Sql)),
    ("q194_k_anonymity",     q194 _, Some(q194Sql)),
    ("q197_rendezvous_shards", q197 _, Some(q197Sql)),
    ("q198_column_stats",    q198 _, Some(q198Sql)),
    ("q303_incremental_analyze", q303 _, Some(q303Sql)),
    ("q304_statsidx_advisor", q304 _, Some(q304Sql)),
    ("q306_statsidx_join_strategy", q306 _, Some(q306Sql)),
    ("q308_mv_incremental_serve", q308 _, Some(q308Sql)),
    ("q309_mv_join_delta", q309 _, Some(q309Sql)),
    ("q310_mv_rollup_answer", q310 _, Some(q310Sql)),
    ("q311_mv_navigator_choice", q311 _, Some(q311Sql)),
    ("q312_mv_transparent_rewrite", q312 _, Some(q312Sql)),
    ("q313_mv_filtered_rewrite", q313 _, Some(q313Sql)),
    ("q199_priority_sample", q199 _, Some(q199Sql)),
    ("q200_windowed_outlier", q200 _, Some(q200Sql)),
    ("q202_benford_audit",   q202 _, Some(q202Sql)),
    ("q203_groupwise_ols",   q203 _, Some(q203Sql)))
}
