package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of a traced run; times are epoch milliseconds. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

/** The traced run's recorder, built only on public Spark hooks.
  *
  * The harness opens the operation spans (`op:<name>` with children
  * `construct`, `plan`, `exec`) and runs each phase under the job group
  * [[group]] of its span, so every Spark job the phase starts — eager
  * checkpoints included — is parented to it, and every stage to its job.
  * Scheduler counts come from those jobs only; plan-shape counts come
  * from the final (post-AQE) plans of queries that finish while
  * [[recording]] is on. Everything is kept in memory and read after
  * [[quiesce]].
  */
final class Trace extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val GroupPrefix = "perfbench:"
  @volatile var recording = false
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Int, (String, Int, Double)]
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, Double)] // job -> (span, parent, start)
  private val stageParent = mutable.Map.empty[Int, Int]            // stage -> job span
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var events = 0L
  private var jobsOpen = 0
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Opens a harness span; returns its id. */
  def openSpan(name: String, parent: Int): Int = synchronized {
    val id = newId(); open(id) = (name, parent, nowMs); id
  }
  def closeSpan(id: Int): Unit = synchronized {
    open.remove(id).foreach { case (n, p, s) => spans += Span(id, n, p, s, nowMs) }
  }
  def group(span: Int): String = GroupPrefix + span
  def spanName(id: Int): Option[String] = synchronized {
    spans.find(_.id == id).map(_.name).orElse(open.get(id).map(_._1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(GroupPrefix)).foreach { gid =>
      val parent = gid.stripPrefix(GroupPrefix).toInt
      val id = newId()
      jobSpan(e.jobId) = (id, parent, e.time.toDouble)
      e.stageInfos.foreach(s => stageParent(s.stageId) = id)
      jobsOpen += 1
      c("jobs") += 1
      if (spanName(parent).contains("construct")) c("construct_jobs") += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      spans += Span(id, "job", parent, start, e.time.toDouble)
      jobsOpen -= 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val si = e.stageInfo
    stageParent.get(si.stageId).foreach { job =>
      c("stages") += 1
      for (s <- si.submissionTime; f <- si.completionTime)
        spans += Span(newId(), s"stage:${si.stageId}", job, s.toDouble, f.toDouble)
      stageTasks.remove(si.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) c("skew") = math.max(c("skew"), sorted.last / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    if (stageParent.contains(e.stageId)) {
      val info = e.taskInfo
      c("tasks") += 1
      if (!info.successful || info.attemptNumber > 0) c("failed_tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        c("task_ms") += m.executorRunTime
        c("task_cpu_ns") += m.executorCpuTime
        c("gc_ms") += m.jvmGCTime
        c("sched_delay_ms") += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        c("read_bytes") += m.inputMetrics.bytesRead
        c("read_records") += m.inputMetrics.recordsRead
        c("write_bytes") += m.outputMetrics.bytesWritten
        c("write_records") += m.outputMetrics.recordsWritten
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_records_written") += m.shuffleWriteMetrics.recordsWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        c("spill_bytes") += m.diskBytesSpilled
        c("peak_exec_mem") = math.max(c("peak_exec_mem"), m.peakExecutionMemory.toDouble)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) countPlan(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def countPlan(plan: SparkPlan): Unit = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    synchronized {
      events += 1
      c("exchanges") += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      c("sort_merge_joins") += nodes.count(_.isInstanceOf[SortMergeJoinExec])
      c("broadcast_joins") += nodes.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }
      c("windows") += nodes.count(_.isInstanceOf[WindowExec])
    }
  }

  /** Catalyst phase times of one planned query, from its own tracker. */
  def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => c(s"${phase}_ms") += s.durationMs }
  }

  /** Blocks until every traced job has ended and no listener event has
    * arrived for 300 ms (the listener bus is asynchronous). */
  def quiesce(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 20e9.toLong
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val (ev, openJobs) = synchronized((events, jobsOpen))
      stable = if (ev == last && openJobs == 0) stable + 1 else 0
      last = ev
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Self time per span kind (the name up to its first ':'): each span's
    * length minus the union of its children's intervals inside it. */
  def selfTimes: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != ':')).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
          }._1
        (s.end - s.start - covered) / 1e3
      }.sum
    }
  }
}
