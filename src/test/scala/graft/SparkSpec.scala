package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; suites run sequentially in the forked test JVM), built by
  * the production factory so the suites run its settings. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** The descriptions of the Spark jobs `body` submits ("" for a job
    * without one), collected by a listener. A marker job run afterwards
    * flushes the listener bus: the listener sees jobs in submission
    * order, so once it sees the marker it has seen them all. */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = "jobsSubmitted-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "the listener never saw the marker job")
      seen.asScala.toSeq.filter(_ != marker)
    } finally sc.removeSparkListener(l)
  }

  /** The number of Spark jobs `body` submits ([[jobDescriptions]]). */
  def jobsSubmitted(body: => Unit): Int = jobDescriptions(body).size
}
