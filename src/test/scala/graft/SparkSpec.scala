package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  // One session for the whole test JVM — suites share it. It is the
  // shipped session (GraftSession.local), so the tests run under the same
  // configuration, functions, optimizer rule and planner strategy as
  // Verify / Bench / Smoke.
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
