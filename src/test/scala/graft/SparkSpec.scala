package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (local[4])
  * reused across suites via getOrCreate. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine's own session configuration ([[GraftSession.builder]]),
    * so the suites run on the confs the engine ships with. */
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
