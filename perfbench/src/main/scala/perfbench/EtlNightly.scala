package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.ops.RelationalOps
import graft.ref.{IcpeSiretisation, PublishOpenData, Schemas, Sources}
import graft.streaming.EventsStream

/** The paper's nightly traffic: the ICPE siretisation DAG, the open-data
  * export, and the relational and event batch operators, over generated
  * reference-domain inputs. Every DataFrame op's output row count is
  * checked against the DuckDB oracle in every pass; the warm-up
  * pass writes each op's key columns for a full fingerprint check. */
final class EtlNightly extends Workload {
  private var in: Map[String, DataFrame] = Map.empty

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val pq = (n: String) => s.read.parquet(ctx.in(s"$n.parquet"))
    in = Map(
      "etab" -> Sources.icpeCsv(s, ctx.in("IC_etablissement.csv"), Schemas.etablissementRaw)
        .select(Schemas.etablissementKeep.map(col): _*),
      "inst" -> Sources.icpeCsv(s, ctx.in("IC_installation_classee.csv"), Schemas.installation),
      "rub" -> Sources.icpeCsv(s, ctx.in("IC_ref_nomenclature_ic.csv"), Schemas.rubrique),
      "gerep" -> Sources.headeredCsv(s, ctx.in("gerep.csv"), Schemas.gerep),
      "company" -> pq("company"), "company_od" -> pq("company_od"),
      "anonymous" -> pq("anonymous"), "orders" -> pq("orders"), "lineitem" -> pq("lineitem"),
      "events" -> pq("events"), "order_changes" -> pq("order_changes"),
      "cust_changes" -> pq("cust_changes"))
  }

  /** The DataFrame ops: name, layer, output frame, key columns for the
    * fingerprint check. */
  private def frames(ctx: Ctx): Seq[(String, String, () => DataFrame, Seq[Column])] = {
    val spark = ctx.spark
    import spark.implicits._
    val orders = in("orders").select(col("o_orderkey"), col("o_custkey").as("cust"),
      col("o_orderdate").cast("timestamp").as("o_ts"))
    val events = in("events").select(col("event_id"), col("user_id").as("cust"),
      col("ts").as("e_ts"), col("value"))
    Seq(
      ("keep_latest", "ops", () => RelationalOps.keepLatest(in("lineitem"), Seq("l_orderkey"),
        Seq(col("l_shipdate"), col("l_linenumber"))), Seq(col("l_orderkey"), col("l_linenumber"))),
      ("asof_join", "ops", () => RelationalOps.asofJoinLatest(orders, events, "cust", "o_ts", "e_ts",
        Seq("event_id")), Seq(col("o_orderkey"), col("asof.event_id").as("event_id"))),
      ("interval_join", "ops", () => RelationalOps.intervalJoin(orders, events.drop("value"),
        Seq("cust"), "o_ts", "e_ts", 1800000L), Seq(col("o_orderkey"), col("event_id"))),
      ("merge_upsert", "ops", () => RelationalOps.mergeUpsert(
        in("orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        in("order_changes"), "o_orderkey", "version", "op"),
        Seq(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))),
      ("scd2", "ops", () => RelationalOps.scd2(in("cust_changes"), Seq("c_custkey"), "ts",
        Seq("c_segment", "c_nation")),
        Seq(col("c_custkey"), col("version"), col("c_segment"), col("c_nation"),
          unix_micros(col("valid_from")).as("valid_from"), unix_micros(col("valid_to")).as("valid_to"),
          col("is_current"))),
      ("sessionize", "streaming", () => EventsStream.sessionizeBatch(
        in("events").select("event_id", "ts", "user_id", "event_type", "value")
          .as[EventsStream.Event]).toDF(),
        Seq(col("user_id"), unix_micros(col("session_start")).as("session_start"),
          unix_micros(col("session_end")).as("session_end"), col("n_events"), col("sum_value"))),
      ("hourly", "streaming", () => EventsStream.hourlyByType(in("events")),
        Seq(unix_micros(col("hour_start")).as("hour_start"), col("event_type"), col("n"),
          col("sum_value"))))
  }

  def pass(ctx: Ctx): Long = {
    val checkPass = ctx.warmingUp
    val enriched = IcpeSiretisation.enrichedInstallations(in("inst"), in("etab"), in("gerep"),
      in("company"))
    ctx.op("ref", "ref.icpe_enrich") {
      Sources.writePartitioned(enriched, ctx.out("icpe"), Seq("libRegime"))
    } { _ => ctx.rowsCheck("icpe")(ctx.spark.read.parquet(ctx.out("icpe")).count()) }
    ctx.op("ref", "ref.icpe_stats") {
      IcpeSiretisation.makeStats(enriched, IcpeSiretisation.enrichRubriques(in("rub")))
    } { st =>
      val got = Seq(st.nbInstallationsTd, st.nbNoSiret, st.nbSiretsUniques)
      val want = ctx.expected("stats").asInstanceOf[Seq[Any]].map(_.toString.toLong)
      if (got == want) None else Some(s"stats $got, oracle has $want")
    }
    ctx.op("ref", "ref.publish") {
      Sources.writeCsv(PublishOpenData.etablissementsInscrits(in("company_od"), in("anonymous")),
        ctx.out("publish"))
    } { _ =>
      ctx.rowsCheck("publish")(ctx.spark.read.option("header", "true").csv(ctx.out("publish")).count())
    }
    for ((name, layer, frame, keyCols) <- frames(ctx)) {
      if (checkPass) {
        // the warm-up pass runs each op through a write of its key
        // columns; the oracle fingerprints those files after the run
        ctx.op(layer, s"$layer.$name") {
          frame().select(keyCols: _*).write.mode(SaveMode.Overwrite).parquet(ctx.out(s"check/$name"))
        } { _ => None }
      } else ctx.op(layer, s"$layer.$name")(ctx.force(frame()))(ctx.rowsCheck(name))
    }
    ctx.manifest("input_rows").toString.toLong
  }

  def finish(ctx: Ctx): Unit = ()

  def metrics(ctx: Ctx, passes: Seq[Int]): Map[String, Double] = {
    val inputBytes = new java.io.File(ctx.args.inputs).listFiles()
      .filter(f => f.getName != "manifest.json" && f.getName != "true_siret.csv").map(_.length).sum
    Stats.batch(ctx, passes, keyJob = Set("ref.icpe_enrich", "ref.icpe_stats")) +
      ("stored_bytes_per_live_byte" ->
        (Main.diskBytes(ctx.out("icpe")) + Main.diskBytes(ctx.out("publish"))).toDouble / inputBytes)
  }
}
