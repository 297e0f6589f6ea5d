package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** One call into a layer: its measured wall time and its check verdict. */
final case class OpRecord(name: String, layer: String, pass: Int, ns: Long,
                          ok: Boolean, err: String, rows: Long)

/** Everything a workload needs while it runs. */
final class Ctx(var spark: SparkSession, val tracer: Tracer, val args: Args) {
  /** True during the warm-up pass. */
  var warmingUp: Boolean = false
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val layerValues = mutable.Map.empty[String, Double]
  /** Input rows each measured pass fed the engine. */
  val inputRows = mutable.Map.empty[Int, Long]
  val expected: Map[String, Any] = Json.readFile(args.expected)
  val manifest: Map[String, Any] = Json.readFile(s"${args.inputs}/manifest.json")
  def in(name: String): String = s"${args.inputs}/$name"
  def out(name: String): String = s"${args.work}/out/$name"
  /** Ops run outside measured passes (warm-up, set-up, the untraced
    * reference pass) are not counted. */
  def measuring: Boolean = tracer.pass >= 0 && tracer.pass < Main.UntracedPass

  /** Time `body` as one op of `layer`, then run `check` untimed on its
    * result. A throw or a failed check marks the op failed. */
  def op[A](layer: String, name: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(layer, name)(body)) catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime() - t0
    val verdict = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(a) =>
        try tracer.untimed(check(a))
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val rows = res.toOption.collect { case n: Long => n }.getOrElse(-1L)
    val pending = graft.ops.TrackedCache.pending(spark).toDouble
    if (measuring) layerValues("ops.tracked_cache_pending") =
      math.max(pending, layerValues.getOrElse("ops.tracked_cache_pending", 0.0))
    if (measuring) ops += OpRecord(name, layer, tracer.pass, ns, verdict.isEmpty, verdict.getOrElse(""), rows)
    verdict.foreach(v => System.err.println(s"[perfbench] op $name failed: $v"))
    res.toOption
  }

  /** Execute a DataFrame's compiled physical plan in full and return its
    * row count. `toRdd` runs every projection the plan computes, which a
    * plain `count()` would let the optimizer prune. */
  def force(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench.force"))(qe.toRdd.count())
  }

  /** Drop every cache a pass can leave behind, so the next pass starts
    * from the same state: tracked frames, the cache manager, persisted
    * RDDs (localCheckpoint blocks live outside the cache manager) and
    * the file-listing cache (writes churn it). */
  def releaseCaches(): Unit = {
    graft.ops.TrackedCache.release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.GraftSparkShim.clearFileStatusCache()
  }

  def expectLong(key: String): Long = expected(key) match {
    case xs: Seq[_] => xs.head.toString.toLong
    case x => x.toString.toLong
  }

  def rowsCheck(key: String)(n: Long): Option[String] = {
    val want = expectLong(key)
    if (n == want) None else Some(s"$key: $n rows, oracle has $want")
  }
}

final case class Args(workload: String, inputs: String, work: String, expected: String,
                      seconds: Double, trace: Boolean, seed: Long, cores: Int, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("expected"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong,
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt, m("out"))
  }
}

/** A workload: input registration and one measured pass. Everything
  * else — set-up repeats, warm-up, the pass loop, cache release,
  * metrics — is shared. */
trait Workload {
  /** Register inputs; runs inside set-up. */
  def setup(ctx: Ctx): Unit
  /** One pass; returns the number of input rows it fed the engine. */
  def pass(ctx: Ctx): Long
  /** Untimed checks after the last pass; adds its ops to ctx.ops. */
  def finish(ctx: Ctx): Unit
  /** End-to-end metrics specific to the workload. */
  def metrics(ctx: Ctx, passes: Seq[Int]): Map[String, Double]
}

object Main {
  /** Pass id of the untraced reference pass of a traced run. */
  val UntracedPass = 1000
  val SetupReps = 7
  val MinPasses = 3

  def session(args: Args, rep: Int): SparkSession = {
    val base = repDir(args, rep)
    SparkSession.builder()
      .appName(s"perfbench-${args.workload}")
      .master(s"local[${args.cores}]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.local.dir", s"$base/local")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
  }

  def repDir(args: Args, rep: Int): String = new File(s"${args.work}/rep$rep").getAbsolutePath

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val wl: Workload = args.workload match {
      case "etl_nightly" => new EtlNightly
      case "curation" => new Curation
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Set-up, repeated: session start and input registration. The first
    // repeat is timed from JVM start; later repeats stop the session and
    // start a new one in the same JVM. setup_s is their median.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (rep <- 1 to SetupReps) {
      val t0 = if (rep == 1) jvmStartNs else System.nanoTime()
      if (ctx != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val spark = session(args, rep)
      spark.sparkContext.setLogLevel("ERROR")
      if (ctx == null) ctx = new Ctx(spark, new Tracer(spark, args.trace), args)
      else { ctx.spark = spark; ctx.tracer.attach(spark) }
      ctx.tracer.pass = -1
      val t1 = System.nanoTime()
      wl.setup(ctx)
      ctx.releaseCaches()
      ctx.notes(s"setup_rep$rep") = f"session ${(t1 - t0) / 1e9}%.2f s, inputs ${(System.nanoTime() - t1) / 1e9}%.2f s"
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep > 1) deleteTree(new File(repDir(args, rep - 1)))
    }

    // One untimed warm-up pass in the measured session. It pays class
    // loading, JIT and expression code generation; the first measured
    // pass, the session's second, still runs somewhat slower, which the
    // per-call medians over at least MinPasses passes absorb.
    val w0 = System.nanoTime()
    ctx.warmingUp = true
    wl.pass(ctx)
    ctx.releaseCaches()
    ctx.warmingUp = false
    ctx.notes("warm-up") = f"1 pass, ${(System.nanoTime() - w0) / 1e9}%.2f s"

    val tracer = ctx.tracer
    var p = 0
    val t0 = System.nanoTime()
    // Whole passes until the measuring time is used up, at least
    // MinPasses, so each call's median has a middle sample.
    while (p < MinPasses || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      tracer.pass = p
      ctx.inputRows(p) = tracer.span("pass", s"pass-$p")(wl.pass(ctx))
      tracer.pass = -1
      ctx.releaseCaches()
      p += 1
    }
    val passes = 0 until p
    // A traced run then measures one untraced pass, as the base of the
    // tracing-overhead ratio.
    var untracedNs = 0L
    if (args.trace) {
      tracer.traced = false
      tracer.pass = UntracedPass
      tracer.span("pass", "untraced")(wl.pass(ctx))
      untracedNs = tracer.passNs(UntracedPass)
      ctx.releaseCaches()
    }
    tracer.pass = -2
    val f0 = System.nanoTime()
    wl.finish(ctx)
    ctx.notes("finish") = f"${(System.nanoTime() - f0) / 1e9}%.2f s"

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    e2e("setup_s") = Stats.median(setupS.toSeq)
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    e2e("op_ok_frac") = (attempted - failed).toDouble / math.max(1, attempted)
    e2e ++= wl.metrics(ctx, passes)

    val layers = if (args.trace) Layers.metrics(ctx, passes, untracedNs) else Map.empty[String, Double]
    if (args.trace) tracer.dump(s"${args.work}/spans.jsonl")
    val errors = ctx.ops.filterNot(_.ok).map(o => s"${o.name}@${o.pass}: ${o.err}").distinct.take(20)
    val json = new StringBuilder
    json ++= "{\"attempted\":" + attempted + ",\"failed\":" + failed
    json ++= ",\"passes\":" + p + ",\"setup_s_all\":[" + setupS.map(Json.num).mkString(",") + "]"
    json ++= ",\"pass_s\":[" + passes.map(q => Json.num(tracer.passNs(q) / 1e9)).mkString(",") + "]"
    val opS = ctx.ops.filter(o => passes.contains(o.pass)).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (k, xs) => Json.str(k) + ":" + Json.num(Stats.median(xs.map(_.ns / 1e9).toSeq)) }
    json ++= ",\"op_s\":{" + opS.mkString(",") + "}"
    json ++= ",\"e2e\":{" + e2e.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",") + "}"
    json ++= ",\"layers\":{" + layers.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",") + "}"
    json ++= ",\"notes\":{" + ctx.notes.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString(",") + "}"
    json ++= ",\"checked\":[" + ctx.ops.map(_.name).distinct.map(Json.str).mkString(",") + "]"
    json ++= ",\"errors\":[" + errors.map(Json.str).mkString(",") + "]}"
    Files.write(Paths.get(args.out), json.toString.getBytes(StandardCharsets.UTF_8))
    ctx.spark.stop()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  /** Bytes of all regular files under `path`. */
  def diskBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(path))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds of a typical pass of a batch workload: each call's median
    * over the passes, summed. A stall in one call of one pass (a GC
    * pause, a busy neighbour) moves no median, where it would move the
    * pass total. */
  def typicalPassS(ops: Seq[OpRecord], names: String => Boolean = _ => true): Double =
    ops.filter(o => names(o.name)).groupBy(_.name).values.map(xs => median(xs.map(_.ns / 1e9).toSeq)).sum

  /** Batch-workload metrics over per-call medians: rows per second of a
    * typical pass, and the time of the workload's key job. */
  def batch(ctx: Ctx, passes: Seq[Int], keyJob: String => Boolean): Map[String, Double] = {
    val ops = ctx.ops.filter(o => passes.contains(o.pass)).toSeq
    Map(
      "rows_per_s" -> ctx.inputRows(passes.head) / typicalPassS(ops),
      "key_job_s" -> typicalPassS(ops, keyJob))
  }
}
