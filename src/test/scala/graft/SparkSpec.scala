package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared one-per-JVM SparkSession for all suites (Test / fork := true
  * runs every suite in a single forked JVM — one session amortizes the
  * ~4 s startup across all specs).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  // stable identifier so suites can `import spark.implicits._`
  final lazy val spark: SparkSession = SparkSpec.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts, counted by job group. */
  def jobsOf(label: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"$label-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftSparkShim.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
