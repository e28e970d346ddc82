package graft

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR.
  *
  * Output contract: the LAST stdout line is one compact JSON summary
  * (<1.5 KB — the invoking harness keeps only a 2000-char stdout tail, so
  * the summary must fit inside it together with sbt's trailing status
  * line): total/failed/iters, the slowest ~18 query medians under
  * `"queries"`, and `"detail"` pointing at the detail file
  * (SPARK_GRAFT_BENCH_DETAIL, default `BENCH_DETAIL.json` under the
  * working directory, the rule Ingest.FixtureDir follows), which holds
  * the complete per-query medians, mins, raw runs, errors, and the
  * partitioned-variant pass (also echoed to stdout one line earlier for
  * full-log consumers).
  *
  * Each query executes through the `noop` sink — unlike `count()`, this
  * runs the COMPLETE physical plan (Catalyst legally elides final sorts
  * and projects under a count, which would under-report), with zero sink
  * I/O cost. An untimed warm-up pass over one query per broad plan class
  * absorbs session/JIT setup, and queries execute in a deterministic
  * murmur3(name) order (not alphabetical) so residual warm-up cost can't
  * correlate with query names round over round — see SURVEY §8.11 for
  * the three-run adjudication that motivated both.
  *
  * Methodology: 3 timed iterations per query, MEDIAN reported (JIT and
  * scheduler noise would otherwise land directly in round-over-round
  * regression tracking); while the raw spread exceeds 2× (same-process GC /
  * adjacent-heavy-query pollution) the query gets a GC settle plus 2 extra
  * iterations, repeated up to a 9-iteration cap, so one polluted run can't
  * dominate the median. Per-query `"min"` ships beside the median — a
  * stable min with a high median is bench noise, not a plan regression.
  * All raw iteration times ship in `"runs"` so the variance is
  * inspectable. A query with ANY failed primary iteration reports -1 in
  * `"queries"` and `"min"`, lands in `"errors"`, and bumps `"failed"` —
  * `total` covers succeeded queries only, so regression comparison must
  * gate on `failed == 0` first (a broken query must never look fast). A
  * failure during a spread-triggered EXTRA iteration does not bump
  * `failed` (the primary runs were clean); it is reported separately in
  * `"retry_errors"`. [[QueryResult]] holds this reduction.
  *
  * Layers: each succeeded query's `"layers"` record in the detail file
  * splits its median iteration into `construct_s` (building the frame,
  * eager checkpoint jobs included) and `exec_s` (the noop write), the
  * write's Catalyst phase ms, and the jobs, stages, tasks, task-seconds,
  * shuffle and spill bytes the scheduler ran for it ([[Layers]]).
  *
  * A second one-iteration pass runs the suite against the multi-file +
  * lang-partitioned fixture mirror (graft.io.PartitionedFixture) and ships
  * as `"partitioned"` (no layers) — evidence that split planning and
  * partition pruning hold under bench conditions, not just in specs.
  * Entries re-timed by the
  * >3x-median GC-settle retry report the min of two runs; their both
  * readings ship under `"retried"` so consumers can tell best-of-two from
  * single-shot numbers.
  *
  * Both summary lines carry a `"load"` contention stamp (loadavg
  * before/after, process cpu-vs-wall ratio, and `calib_ms_start`/
  * `calib_ms_end`, a fixed single-thread loop timed before the session
  * starts and after it stops): round 7 shipped a bench captured on a
  * busy machine and the artifact had no way to show it. A run with
  * elevated loadavg, a depressed cpu/wall ratio or a slow calibration
  * loop is self-identifying as contaminated — rerun it; don't diff it.
  */
object Bench {
  /** One timed iteration: seconds to build the frame (`fn(spark, dir)`)
    * and to execute it (the noop write). */
  final case class Run(construct: Double, exec: Double) {
    def s: Double = construct + exec
  }

  /** One query's timed iterations in run order — the primaries, then the
    * spread-triggered extras — each a [[Run]] or an error message, plus
    * the median iteration's layer record. Every reported number is a pure
    * function of these. */
  final case class QueryResult(name: String, primary: Seq[Either[String, Run]],
      extras: Seq[Either[String, Run]] = Nil, layers: Option[String] = None) {
    def err: Option[String] = primary.collectFirst { case Left(m) => m }
    def retryErr: Option[String] = extras.collectFirst { case Left(m) => m }
    /** Succeeded iterations with their run-order index, fastest first. */
    private def ok: Seq[(Run, Int)] = (primary ++ extras).zipWithIndex
      .collect { case (Right(r), i) => (r, i) }.sortBy(_._1.s)
    def runs: Seq[Double] = ok.map(_._1.s)
    /** The median iteration (the lower middle for an even count); none
      * once any primary iteration failed. */
    def medianRun: Option[(Run, Int)] =
      if (err.isDefined || ok.isEmpty) None else Some(ok((ok.size - 1) / 2))
    def median: Double = medianRun.fold(-1.0) { _ =>
      val t = runs
      if (t.size % 2 == 1) t(t.size / 2) else (t(t.size / 2 - 1) + t(t.size / 2)) / 2
    }
    def min: Double = medianRun.fold(-1.0)(_ => runs.head)
  }

  /** Suite total: succeeded queries only. */
  def total(results: Seq[QueryResult]): Double = results.map(_.median).filter(_ >= 0).sum

  private val GroupPrefix = "graft-bench:"

  /** Scheduler and Catalyst counts per bench job group — one per (query,
    * iteration, phase) — from public listener hooks. The bus is
    * asynchronous: call [[record]] only after [[quiesce]], once per run. */
  private final class Layers extends SparkListener with QueryExecutionListener {
    private val counts = mutable.Map.empty[(String, String), Long] // (group, field)
    private val stageGroup = mutable.Map.empty[Int, String]
    private val execGroup = mutable.Map.empty[Long, String]        // SQL execution id
    private val phases = mutable.Map.empty[Long, Map[String, Long]] // by execution id
    private val openJobs = mutable.Set.empty[Int]
    private var events = 0L
    private def add(g: String, field: String, v: Long): Unit =
      counts((g, field)) = counts.getOrElse((g, field), 0L) + v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).foreach { g =>
          openJobs += e.jobId
          add(g, "jobs", 1)
          e.stageInfos.foreach(si => stageGroup.getOrElseUpdate(si.stageId, g))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      openJobs -= e.jobId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      val si = e.stageInfo
      stageGroup.get(si.stageId).foreach { g =>
        add(g, "stages", 1)
        add(g, "tasks", si.numTasks)
        Option(si.taskMetrics).foreach { m =>
          add(g, "task_ms", m.executorRunTime)
          add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(g, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add(g, "spill_bytes", m.diskBytesSpilled)
        }
      }
    }
    // onSuccess comes from the session's ExecutionListenerBus, which sits
    // ahead of this listener on the shared queue (Bench registers it
    // first), so the same execution's end event arrives here next.
    private var ended: Option[Map[String, Long]] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        events += 1
        ended = Some(qe.tracker.phases.map { case (k, p) => k -> p.durationMs })
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          events += 1
          s.jobGroupId.filter(_.startsWith(GroupPrefix)).foreach(execGroup(s.executionId) = _)
        case end: SparkListenerSQLExecutionEnd =>
          events += 1
          if (execGroup.contains(end.executionId)) ended.foreach(phases(end.executionId) = _)
          ended = None
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Blocks until every bench job has ended and no event has arrived for
      * 300 ms. */
    def quiesce(): Unit = {
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 20e9.toLong
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val (ev, open) = synchronized((events, openJobs.size))
        stable = if (ev == last && open == 0) stable + 1 else 0
        last = ev
      }
    }

    /** The layer record (a JSON object) of one iteration that ran under
      * the job groups `<group>/c` (construct) and `<group>/e` (exec). */
    def record(group: String, run: Run): String = synchronized {
      val (c, e) = (group + "/c", group + "/e")
      def n(g: String, field: String) = counts.getOrElse((g, field), 0L)
      def both(field: String) = n(c, field) + n(e, field)
      val writes = execGroup.collect { case (id, `e`) => phases.getOrElse(id, Map.empty) }
      def ms(phase: String) = writes.map(_.getOrElse(phase, 0L)).sum
      (Seq("construct_s" -> run.construct, "exec_s" -> run.exec) ++
        Seq("analysis", "optimization", "planning").map(p => s"${p}_ms" -> ms(p)) ++
        Seq("jobs" -> both("jobs"), "construct_jobs" -> n(c, "jobs"),
          "stages" -> both("stages"), "tasks" -> both("tasks"),
          "task_s" -> both("task_ms") / 1e3) ++
        Seq("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes").map(f => f -> both(f)))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  /** Milliseconds for perfbench's fixed single-thread integer loop (same
    * constants as perfbench.Main.calibrationMs): the host's speed at that
    * moment, for the load stamp. Timed before the session starts and
    * after it stops, outside every timed interval. */
  private def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 0) System.err.println() // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val calibStart = calibrationMs()
    // f-interpolators format through the default locale; a comma-decimal
    // locale would make the JSON summary unparseable
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    val sc = spark.sparkContext
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    // One timed run: the frame, then its noop write. With a group, each
    // phase's jobs run under the job group `<group>/c` or `<group>/e`
    // (eager checkpoint jobs run on this thread, so they inherit it).
    def timeOnce(fn: (SparkSession, String) => DataFrame, dir: String = sfDir,
                 group: String = ""): Either[String, Run] = {
      def phase(p: String): Unit = if (group.nonEmpty) sc.setJobGroup(s"$group/$p", group)
      phase("c")
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        phase("e")
        df.write.format("noop").mode("overwrite").save()
        Right(Run((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally if (group.nonEmpty) sc.clearJobGroup()
    }
    // Warm-up: session/codegen/scan/shuffle setup paid once, not by the
    // first queries. One query per broad plan class (scan+agg+sort,
    // window+join, HOF-array/hash, stateful exchange-heavy) — the
    // round-10 three-run adjudication showed the suite's FIRST queries
    // absorbing JVM/JIT warm-up regardless of which they were, so the
    // warm-up must touch each execution framework, not just one plan.
    Seq("wordcount", "q_topk_orders", "q_dedup_minhash", "q_sessionize")
      .foreach(w => SparkEntry.queries.get(w).foreach(timeOnce(_)))
    val maxIters = 9
    // Contention stamp: BENCH_r07 was captured on a busy machine and its
    // numbers were garbage (6 phantom "regressions", all vanishing when
    // re-measured standalone). Record system load before/after plus this
    // process's cpu-vs-wall ratio so a polluted run is self-identifying
    // from the artifact alone: high loadavg with a LOW cpu/wall ratio
    // means someone else had the cores.
    def loadAvg: Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    def procCpuSec: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    val loadStart = loadAvg
    val cpuStart = procCpuSec
    val wallStart = System.nanoTime()
    // optional comma-separated query filter for local iteration (unset for
    // the driver's full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // Execution order: deterministic but NOT alphabetical. Alphabetical
    // order made residual warm-up cost land on the same early-alphabet
    // queries every run, so min-rule flags correlated with suite position
    // (SURVEY §8.11). Ordering by murmur3(name) keeps runs byte-identical
    // across invocations (flag sets stay comparable run-to-run) while
    // decorrelating position from name; (hash, name) breaks hash ties.
    val benchOrder: ((String, Any)) => (Int, String) = { case (name, _) =>
      (scala.util.hashing.MurmurHash3.stringHash(name, 0x5bd1e995), name) }
    val ordered = SparkEntry.queries.toSeq.sortBy(benchOrder)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val layers = new Layers
    spark.listenerManager.register(layers) // first: see Layers.onSuccess
    sc.addSparkListener(layers)
    val timed = ordered.map { case (name, fn) =>
      val runs = mutable.ArrayBuffer.empty[Either[String, Run]]
      def timeNext(): Unit = runs += timeOnce(fn, group = s"$GroupPrefix$name/${runs.size}")
      (1 to iters).foreach(_ => timeNext())
      def ts = runs.collect { case Right(r) => r.s }
      def spreadOver2x = { val t = ts; t.size > 1 && t.max > 2 * t.min }
      // high-spread tail: settle the heap, then add 2 iterations; repeat
      // until the spread is ≤2× or the iteration cap is hit, so one
      // GC-polluted run can't dominate the median
      while (iters > 1 && spreadOver2x && runs.take(iters).forall(_.isRight) &&
             runs.size < maxIters) {
        System.gc(); Thread.sleep(200)
        (1 to math.min(2, maxIters - runs.size)).foreach(_ => timeNext())
      }
      QueryResult(name, runs.take(iters).toSeq, runs.drop(iters).toSeq)
    }
    layers.quiesce()
    spark.listenerManager.unregister(layers)
    sc.removeSparkListener(layers)
    val results = timed.map(r => r.copy(layers = r.medianRun.map { case (run, i) =>
      layers.record(s"$GroupPrefix${r.name}/$i", run) }))
    def byQuery(value: QueryResult => Option[String]): String =
      results.flatMap(r => value(r).map(v => jstr(r.name) + ":" + v)).mkString("{", ",", "}")
    val qs = byQuery(r => Some(r.median.toString))
    val mins = byQuery(r => Some(r.min.toString))
    val raw = byQuery(r => Some(r.runs.mkString("[", ",", "]")))
    val errs = byQuery(_.err.map(jstr))
    val retryErrs = byQuery(_.retryErr.map(jstr))
    val layerRecords = byQuery(_.layers)
    val failed = results.count(_.err.isDefined)
    val total = Bench.total(results)
    // Variant pass: the whole suite once against the multi-file /
    // lang-partitioned mirror of the same sf dir (split planning +
    // partition pruning under bench conditions). One timed iteration per
    // query — this tracks layout sensitivity, not medians; its failures
    // are reported inside "partitioned" and do NOT bump the primary
    // "failed" gate. Disable with SPARK_GRAFT_BENCH_PARTITIONED=0.
    // (fragment, total, failed) for the partitioned-variant pass
    val (partitioned, pSummary) =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTITIONED", "1") == "0")
        ("", "")
      else try {
        val pdir = graft.io.PartitionedFixture.prepare(spark, sfDir)
        timeOnce(SparkEntry.queries("wordcount"), pdir)
        val medians = results.map(r => r.name -> r.median).toMap
        val pres = ordered.map { case (name, fn) =>
          val first = timeOnce(fn, pdir).map(_.s)
          // single-iteration pass, so one heap polluted by the previous
          // query lands straight in the number (round-6 evidence: the
          // 4 queries alphabetically after a 14 s mirror query read
          // 4-16x their primary median; all re-measured normal in
          // isolation). If the reading exceeds 3x the query's primary
          // median, settle the heap and re-time once, reporting the
          // min -- a REAL layout regression reproduces on the retry.
          // (name, best, Some((first, retry)) when the retry fired) —
          // best-of-two and single-shot entries are different
          // methodologies, so the fragment must say which is which
          val (best, retryRuns) = first match {
            case Right(t) if medians.get(name).exists(m => m > 0 && t > 3 * m) =>
              System.gc(); Thread.sleep(200)
              timeOnce(fn, pdir).map(_.s) match {
                case Right(t2) => (Right(math.min(t, t2)), Some((t, t2)))
                case Left(_)   => (first, None)
              }
            case other => (other, None)
          }
          (name, best, retryRuns)
        }
        val pqs = pres.map { case (k, r, _) =>
          jstr(k) + ":" + r.fold(_ => -1.0, identity) }.mkString("{", ",", "}")
        val pErrs = pres.collect { case (k, Left(m), _) => jstr(k) + ":" + jstr(m) }
          .mkString("{", ",", "}")
        // both readings for every >3x-median entry that was re-timed, so
        // bench_diff consumers can separate best-of-two from single-shot
        val pRetried = pres.collect { case (k, _, Some((t1, t2))) =>
          jstr(k) + ":" + s"[$t1,$t2]" }.mkString("{", ",", "}")
        val pFailed = pres.count(_._2.isLeft)
        val pTotal = pres.collect { case (_, Right(t), _) => t }.sum
        (s""","partitioned":{"dir":${jstr(pdir)},"total":$pTotal,"failed":$pFailed,"queries":$pqs,"errors":$pErrs,"retried":$pRetried}""",
         f""","p_total":$pTotal%.2f,"p_failed":$pFailed""")
      } catch { case e: Throwable =>
        (s""","partitioned":{"prep_error":${jstr(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")}}""",
         ""","p_failed":-1""")
      }
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val cpuSec = procCpuSec - cpuStart
    // the session's threads would slow the end reading (200–220 ms
    // against 140–155 ms for a fresh JVM right after it exits)
    spark.stop()
    val calibEnd = calibrationMs()
    // cpu/wall on an otherwise-idle local[32] heavy suite runs well above
    // 1; a contended run shows elevated loadavg AND a depressed ratio
    val loadStamp =
      f""""load":{"loadavg_start":$loadStart%.2f,"loadavg_end":$loadAvg%.2f,"proc_cpu_sec":$cpuSec%.1f,"wall_sec":$wallSec%.1f,"cpu_wall_ratio":${if (wallSec > 0) cpuSec / wallSec else -1.0}%.2f,"calib_ms_start":$calibStart%.1f,"calib_ms_end":$calibEnd%.1f}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"failed":$failed,"queries":$qs,"min":$mins,"runs":$raw,"errors":$errs,"retry_errors":$retryErrs,"layers":$layerRecords$partitioned,$loadStamp,"sf":"$sfDir"}"""
    // Full per-query detail is large (tens of KB): persist it to a file and
    // echo it early. The harness that invokes Bench keeps only a short tail
    // of stdout, so the LAST line printed is a compact summary (<1.5 KB):
    // suite total, failure gate, and the slowest-query medians. Everything
    // else lives in the detail file.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"${sys.props("user.dir")}/BENCH_DETAIL.json")
    // advertise the path only if the write succeeded — a stale previous
    // round's file must not masquerade as this run's detail
    val detailJson =
      try {
        val w = new java.io.PrintWriter(detailPath, "UTF-8")
        try w.println(full) finally w.close()
        jstr(detailPath)
      } catch { case _: Throwable => "null" }
    println(full)
    val headline = results.filter(_.err.isEmpty).sortBy(-_.median).take(18)
      .map(_.name).toSet + "wordcount"
    val cqs = results.filter(r => headline(r.name) || r.err.isDefined)
      .map(r => jstr(r.name) + ":" + f"${r.median}%.3f").mkString("{", ",", "}")
    val errNames = results.filter(_.err.isDefined).map(r => jstr(r.name))
      .mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","iters":$iters,"failed":$failed,"n_queries":${results.size},"detail":$detailJson,"queries":$cqs,"error_queries":$errNames$pSummary,$loadStamp,"sf":"$sfDir"}""")
  }
}
