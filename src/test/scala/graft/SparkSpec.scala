package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      // the CI box freezes for tens of seconds under load; with the 10s
      // defaults the local-mode executor declares the driver dead and
      // System.exit(56)s the whole suite JVM mid-run
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Streaming query stop() interrupts the microbatch thread; the RocksDB
    // state-store maintenance task logs the (benign, expected) interrupt as
    // a multi-page ERROR trace. Real state-store failures still surface as
    // StreamingQueryExceptions, so silence the logger in tests.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state",
      org.apache.logging.log4j.Level.OFF)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
