package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `pass` is the pass it
  * ran in (-1 outside measured passes); `parent` is the enclosing span. */
final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
                      parent: Int, pass: Int) {
  def ns: Long = end - start
}

/** Spark counters attributed to one span through its job group. */
final class TaskCounts {
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var waitNs = 0L
  var gcMs = 0L
  var planMs = 0.0
  var queries = 0L
  var graftNodes = 0L
  def add(o: TaskCounts): Unit = {
    tasks += o.tasks; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; waitNs += o.waitNs; gcMs += o.gcMs
    planMs += o.planMs; queries += o.queries; graftNodes += o.graftNodes
  }
}

/** Collects task metrics per job group and planning cost per query.
  * Events arrive on the listener bus thread; callers drain the bus
  * before reading ([[Tracer.endSpan]] does). */
final class SpanListener extends SparkListener with QueryExecutionListener {
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  val byGroup: mutable.Map[String, TaskCounts] = mutable.Map.empty
  private val pendingQueries = mutable.ArrayBuffer.empty[QueryExecution]

  private def counts(group: String) = byGroup.getOrElseUpdate(group, new TaskCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      groupOfJob(e.jobId) = grp
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- jobOfStage.get(e.stageId); grp <- groupOfJob.get(job)) {
      val c = counts(grp)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.gcMs += m.jvmGCTime
      }
      stageSubmit.get(e.stageId).foreach(s =>
        c.waitNs += math.max(0L, e.taskInfo.launchTime - s) * 1000000L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingQueries += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { pendingQueries += qe }

  /** Planning cost and Graft node count of every query finished since
    * the last call, all charged to `into`. */
  def takeQueries(into: TaskCounts): Unit = synchronized {
    pendingQueries.foreach { qe =>
      into.queries += 1
      into.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      into.graftNodes += SpanListener.graftNodes(qe.executedPlan)
    }
    pendingQueries.clear()
  }
}

object SpanListener {
  private def isGraft(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  /** Plan nodes and expressions from the engine's own packages in a
    * physical plan, looking through adaptive wrappers and query stages. */
  def graftNodes(p: SparkPlan): Long = {
    val own = (if (isGraft(p)) 1L else 0L) +
      p.expressions.map(_.collect { case e if isGraft(e) => 1L }.sum).sum
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    own + kids.map(graftNodes).sum
  }
}

/** Spans around layer calls, kept in memory for the whole run. In traced
  * mode every span also sets a Spark job group so the listener can
  * attribute task counts to it; untraced runs record only the intervals
  * the end-to-end metrics need. Untimed work inside a pass (output
  * checks) is bracketed with [[untimed]] and subtracted from the pass. */
final class Tracer(spark0: SparkSession, private var tracing: Boolean) {
  private var spark = spark0
  private var listener: Option[SpanListener] = None
  val spans = mutable.ArrayBuffer.empty[Span]
  val countsOf = mutable.Map.empty[Int, TaskCounts]
  val untimedNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  var pass: Int = -1
  private var nextId = 0
  private var stack: List[Int] = Nil

  attach(spark0)

  def traced: Boolean = tracing
  def traced_=(on: Boolean): Unit = {
    if (on && !tracing) listener.foreach(_.takeQueries(new TaskCounts)) // drop untraced queries
    tracing = on
  }

  /** Re-point at a new session (set-up repeats restart the session). */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (tracing) {
      val l = new SpanListener
      s.sparkContext.addSparkListener(l)
      s.listenerManager.register(l)
      listener = Some(l)
    }
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    if (traced) spark.sparkContext.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, layer, t0, t1, parent, pass)
      if (traced) endSpan(id, parent)
    }
  }

  private def endSpan(id: Int, parent: Int): Unit = {
    val sc = spark.sparkContext
    org.apache.spark.GraftSparkShim.drainListenerBus(sc)
    val l = listener.get
    val c = l.byGroup.remove(s"span-$id").getOrElse(new TaskCounts)
    l.takeQueries(c)
    c.add(countsOf.getOrElse(id, new TaskCounts))
    countsOf(id) = c
    if (parent >= 0) sc.setJobGroup(s"span-$parent", "", interruptOnCancel = false)
    else sc.clearJobGroup()
  }

  /** Work that belongs to the run but not to the measured pass. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally untimedNs(pass) += System.nanoTime() - t0
  }

  /** Wall time of a pass span minus its untimed work. */
  def passNs(p: Int): Long =
    spans.find(s => s.pass == p && s.layer == "pass").map(_.ns - untimedNs(p)).getOrElse(0L)

  /** Self time per layer over the spans of the given passes: each span's
    * duration minus what its child spans cover (untimed work is charged
    * to no layer). */
  def selfNsByLayer(passes: Set[Int]): Map[String, Long] = {
    val inPass = spans.filter(s => passes.contains(s.pass))
    val childNs = inPass.groupBy(_.parent).view.mapValues(_.map(_.ns).sum).toMap
    inPass.groupBy(_.layer).view.mapValues(ss =>
      ss.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum).toMap
  }

  /** Write every span as one JSON line. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = countsOf.get(s.id)
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"pass":${s.pass}""" +
        c.fold("")(c => s""","tasks":${c.tasks},"shuffle_bytes":${c.shuffleBytes},""" +
          s""""spill_bytes":${c.spillBytes},"task_wait_ns":${c.waitNs},"gc_ms":${c.gcMs}""") + "}")
    } finally w.close()
  }
}

object Json {
  /** Parse a JSON file into Scala maps, sequences, strings, numbers. */
  def readFile(path: String): Map[String, Any] = {
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) {
        val it = n.fields()
        val b = Map.newBuilder[String, Any]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> conv(e.getValue) }
        b.result()
      } else if (n.isArray) {
        val b = Vector.newBuilder[Any]
        n.elements().forEachRemaining(e => b += conv(e))
        b.result()
      } else if (n.isIntegralNumber) n.asLong
      else if (n.isNumber) n.asDouble
      else if (n.isNull) null
      else n.asText
    conv(new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path)))
      .asInstanceOf[Map[String, Any]]
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
