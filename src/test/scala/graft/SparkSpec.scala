package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts on this thread, in start order: a
    * listener collects the thread's jobs by job group, and a marker job
    * after `body` shows when the (ordered, asynchronous) listener queue
    * has caught up.
    */
  protected def jobsStartedBy(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    def description(js: SparkListenerJobStart) =
      Option(js.properties.getProperty("spark.job.description")).getOrElse("")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(js)
    }
    def jobs = scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!jobs.exists(description(_) == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.exists(description(_) == "marker"), "listener never saw the marker job")
      jobs.filterNot(description(_) == "marker")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = GraftSession.builder("graft-test", 4, 4) // includes GraftExtensions
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
