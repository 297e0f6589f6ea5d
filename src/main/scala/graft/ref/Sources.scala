package graft.ref

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, input_file_name, lit}
import org.apache.spark.sql.types.StructType

/** Sources & sinks for the reference surface (SURVEY.md §2.1).
  *
  * The reference's HTTP fetch + tar extraction (S1/S2,
  * `dags/icpe-siretisation.py:19-54`) are driver-side staging, not Spark
  * jobs — stage files to a landing dir with ordinary JVM IO, then hand
  * the paths to these readers.
  */
object Sources {

  /** S3: headerless `;`-separated CSV with explicit schema and DAY-FIRST
    * dates (`dags/icpe-siretisation.py:135-139`, `dayfirst=True` — Spark's
    * default parser is month-first, so the format must be explicit).
    * Multiline quoted fields off, permissive nulls on empty strings —
    * matching pandas' NaN-for-empty behavior.
    */
  def icpeCsv(spark: SparkSession, path: String, schema: StructType,
              timestampFormat: String = "d/M/yyyy[ H:mm:ss]"): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", ";")
      .option("header", "false")
      .option("timestampFormat", timestampFormat)
      .option("dateFormat", "d/M/yyyy")
      .csv(path)

  /** S4: headered CSV (GEREP Google-Sheets export,
    * `dags/icpe-siretisation.py:268-271`) staged to a local path. */
  def headeredCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .csv(path)

  /** Quarantining CSV read — the 100 TB posture for dirty feeds, where
    * the reference (pandas) would throw on the first malformed row of a
    * multi-TB file: PERMISSIVE mode keeps well-formed rows, nulls the
    * broken fields, and captures each offending raw line in a corrupt
    * -record column so the pipeline can count/route rejects instead of
    * dying. Returns (clean rows, corrupt raw lines). */
  def csvWithQuarantine(spark: SparkSession, path: String, schema: StructType,
                        sep: String = ";", header: Boolean = false)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField}
    val corrupt = "_corrupt_record"
    val withCorrupt = StructType(schema.fields :+
      StructField(corrupt, StringType, nullable = true))
    val raw = spark.read
      .schema(withCorrupt)
      .option("sep", sep)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .csv(path)
      // Spark requires materializing the frame (or a cache) before
      // filtering on the corrupt column alone; caching also makes the
      // two returned frames share one file pass
      .cache()
    (raw.where(col(corrupt).isNull).drop(corrupt),
     raw.where(col(corrupt).isNotNull).select(col(corrupt).as("raw_line")))
  }

  /** Quarantining JSON-Lines read — the ingest format of raw crawl /
    * training-data dumps (one JSON document per line). Same PERMISSIVE
    * + corrupt-record routing as [[csvWithQuarantine]]: well-formed
    * lines parse against the EXPLICIT schema (no inference pass — at
    * 100 TB a schema-inference read is a full extra scan), malformed
    * lines land in the quarantine frame with the raw text preserved
    * for triage. Returns (clean rows, corrupt raw lines). */
  def jsonlWithQuarantine(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField}
    val corrupt = "_corrupt_record"
    val withCorrupt = StructType(schema.fields :+
      StructField(corrupt, StringType, nullable = true))
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      // same materialization requirement as the CSV variant: cache so
      // filtering on the corrupt column alone is legal and both
      // returned frames share one file pass
      .cache()
    (raw.where(col(corrupt).isNull).drop(corrupt),
     raw.where(col(corrupt).isNotNull).select(col(corrupt).as("raw_line")))
  }

  /** S5: JDBC scan with the projection/cast pushed down as a SQL query —
    * keeps the reference's own pushdown (`dags/publish-open-data.py:26-30`
    * already selects and casts in SQL).
    */
  def jdbcQuery(spark: SparkSession, url: String, query: String,
                props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("query", query)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Quote one SQL identifier ANSI/Postgres-style (embedded quotes
    * doubled). The reference's schema is literally `default$default`
    * and its tables/columns are MixedCase (`"Company"."companyTypes"`,
    * `dags/publish-open-data.py:26-29`) — unquoted, Postgres would
    * fold them to lowercase and the query would miss. */
  def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** `"schema"."Table"` — the reference's qualified-name shape
    * (`"default$default"."Company"`, `dags/icpe-siretisation.py:231`). */
  def qualifiedTable(schema: String, table: String): String =
    s"${quoteIdent(schema)}.${quoteIdent(table)}"

  /** One projected column of [[pushdownSelect]]: optional SQL cast
    * (`castTo = "date"` ⇒ `CAST(col AS date)`) and output alias.
    * `asText = true` casts to the dialect's text type — how an
    * array-typed Postgres column (`companyTypes`) crosses a text-only
    * boundary: the engine renders the array canonically (`{PRODUCER}`),
    * which is exactly the rendering the reference's filters match. */
  case class ColSpec(name: String, alias: String = null,
                     castTo: String = null, asText: Boolean = false)

  /** Build the reference-shaped pushed-down projection
    * (`dags/publish-open-data.py:26-30`): every identifier quoted,
    * columns table-qualified, casts/aliases per [[ColSpec]].
    * `textType` is the dialect's text type (`text` for Postgres,
    * `VARCHAR(n)` for engines without an unbounded text type).
    * `correlate` adds a correlation name equal to the bare table name
    * — Postgres resolves `"Company"."siret"` against a schema-qualified
    * FROM on its own (the reference's exact text, the default); ANSI
    * engines like Derby require the correlation name to be explicit. */
  def pushdownSelect(schema: String, table: String, cols: Seq[ColSpec],
                     textType: String = "text",
                     correlate: Boolean = false): String = {
    val qt = quoteIdent(table)
    val parts = cols.map { c =>
      val ref = s"$qt.${quoteIdent(c.name)}"
      val cast = if (c.asText) Some(textType) else Option(c.castTo)
      val expr = cast.fold(ref)(t => s"CAST($ref AS $t)")
      // a cast without an alias keeps the source column's name:
      // Postgres does that implicitly (the reference's pandas saw
      // `companyTypes` back), ANSI engines would name it "2"
      val alias = Option(c.alias).orElse(cast.map(_ => c.name))
      alias.fold(expr)(a => s"$expr AS ${quoteIdent(a)}")
    }
    val from = qualifiedTable(schema, table) + (if (correlate) s" $qt" else "")
    s"SELECT ${parts.mkString(", ")} FROM $from"
  }

  /** S7: CSV sink (`dags/publish-open-data.py:58`). `singleFile` mirrors
    * pandas' one-file `to_csv` for export parity; leave false for
    * distributed writes at scale. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Partitioned parquet sink — the 100 TB layout: one directory per
    * partition value, so later scans with a partition-column predicate
    * read only matching directories (dynamic partition pruning shows as
    * `PartitionFilters` in the plan, no data files touched for pruned
    * values). Not in the reference (it re-downloads whole tarballs per
    * run); essential at scale.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Curated-corpus parquet sink — [[writePartitioned]] plus the two
    * knobs that matter when the OUTPUT is 100 TB:
    *
    *   - `maxRecordsPerFile` bounds file size so downstream scans get
    *     parallelism without a compaction pass (unbounded, one task
    *     writing a hot partition emits one giant file; too small, the
    *     namenode drowns in footers);
    *   - rows are sorted by `sortCols` WITHIN each write task before
    *     writing: clustered values compress better (RLE/dictionary
    *     pages) and give tighter parquet min/max column stats, which
    *     is what row-group skipping prunes on at read time. This is a
    *     `sortWithinPartitions`, never a global sort — no exchange is
    *     added to the write.
    *
    * Returns a small audit MANIFEST (one row per partition value:
    * file count + row count, read from the committed output, not from
    * the input — it proves what actually landed). Production runs
    * persist it next to the dataset. It is a lazy plan that, when run,
    * scans every written row again, tags each with `input_file_name()`
    * and aggregates `countDistinct(_file)` and `count` per partition
    * value — a full read of the output plus a shuffle, not a
    * footer-only aggregation.
    */
  def writeCorpus(df: DataFrame, path: String, partitionCols: Seq[String],
                  sortCols: Seq[String], maxRecordsPerFile: Long = 1000000L,
                  format: String = "parquet"): DataFrame = {
    // parquet is the default interchange layout; "orc" serves estates
    // standardized on ORC readers — both are columnar with row-group/
    // stripe min-max statistics, so the sortWithinPartitions clustering
    // pays off as data skipping identically (StagingSpec pins pruned
    // read-back for both)
    require(format == "parquet" || format == "orc",
      s"corpus format must be parquet or orc, got $format")
    df.sortWithinPartitions(partitionCols.map(col) ++ sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .format(format).save(path)
    val out = df.sparkSession.read.format(format).load(path)
      .withColumn("_file", input_file_name())
    out.groupBy(partitionCols.map(col): _*)
      .agg(countDistinct(col("_file")).as("n_files"),
           count(lit(1)).as("n_rows"))
  }

  /** S8: JDBC full-replace sink (`dags/icpe-siretisation.py:360-392`,
    * `to_sql(..., if_exists='replace')` — its `chunksize=3` becomes a
    * sane default batchsize). */
  def writeJdbc(df: DataFrame, url: String, table: String,
                batchSize: Int = 10000, props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc").mode(SaveMode.Overwrite)
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
  }
}
