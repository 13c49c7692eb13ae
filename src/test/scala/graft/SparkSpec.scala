package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * session startup dominates test time otherwise), built by [[Session]] so
  * the suites plan the joins and splits that Verify and Bench ship. */
object SparkSpec {
  lazy val spark: SparkSession = Session.get()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  /** Spark jobs started while `body` runs, on any thread (an HTTP
    * server runs its jobs on its own pool), drained through a marker job:
    * listener events arrive in order, after the call returns. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("jobs-during-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("jobs-during-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("jobs-during-marker"), "listener never saw the marker job")
      groups.toArray.count(_ != "jobs-during-marker")
    } finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit = {
    // Session is shared across suites; never stop it here.
    super.afterAll()
  }
}
