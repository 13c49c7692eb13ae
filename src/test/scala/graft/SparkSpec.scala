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
  override protected def afterAll(): Unit = {
    // Session is shared across suites; never stop it here.
    super.afterAll()
  }
}
