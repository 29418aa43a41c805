package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session;
  * `getOrCreate` makes every suite reuse it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // local[4, 4] = 4 threads, maxFailures 4: task retries are enabled so
    // fault-injection specs (FaultToleranceSpec) can exercise the
    // reference's crash-recovery contract; no-fault suites are unaffected.
    val s = SparkSession.builder()
      .master("local[4, 4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // as the harness sessions: graft's functions and rules, and the
    // engine's file: filesystem, installed before any file is touched
    graft.plans.GraftExtensions.register(s)
    s
  }
}
