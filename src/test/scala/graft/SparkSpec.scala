package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole ScalaTest run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** (jobs, SQL executions) submitted while `body` ran. */
  protected def jobsDuring(body: => Unit): (Int, Int) = {
    val jobs = jobStartsDuring(body)
    (jobs.size, jobs.map(js => String.valueOf(js.properties.getProperty("spark.sql.execution.id")))
      .distinct.size)
  }

  /** The start events of the jobs submitted while `body` ran. Listener
    * events arrive asynchronously but in order, so a sentinel job submitted
    * afterwards marks the point by which every earlier job start was seen. */
  protected def jobStartsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    import scala.jdk.CollectionConverters._
    def description(js: SparkListenerJobStart) =
      String.valueOf(js.properties.getProperty("spark.job.description"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.add(js)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("graft-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      def sentinelSeen = seen.iterator().asScala.exists(description(_) == "graft-sentinel")
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "listener never saw the sentinel job")
      seen.iterator().asScala.takeWhile(description(_) != "graft-sentinel").toSeq
    } finally sc.removeSparkListener(listener)
  }
}
