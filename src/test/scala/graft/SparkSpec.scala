package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh directory `<java.io.tmpdir>/<prefix>-<uuid>`, deleted when
    * the JVM exits by the shutdown hook that also removes the
    * [[graft.io.Tables.store]] roots, so a test run leaves no temp dirs. */
  protected def tempDir(prefix: String): String =
    org.apache.spark.sql.graftbridge.Bridge.tempDirDeletedAtExit(prefix)

  /** Jobs submitted while `body` runs. Each job is tagged through a local
    * property captured at submission; a trailing `control` job marks the
    * end, and since the listener bus delivers in order, every job `body`
    * started has been seen once the control's start arrives. */
  protected def jobsDuring(body: => Unit, control: => Unit): Int = {
    val key = "graft.test.phase"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body"); body
      sc.setLocalProperty(key, "control"); control
      sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("control") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("control"), "control job never reached the bus")
      seen.toArray.count(_ == "body")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  // One session for the whole test JVM — suites share it. It is the
  // shipped session (GraftSession.local), so the tests run under the same
  // configuration, functions, optimizer rule and planner strategy as
  // Verify / Bench / Smoke.
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
