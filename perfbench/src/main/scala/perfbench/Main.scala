package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import Layers.median

/** The benchmark JVM: one closed-loop client running one operation at a
  * time on `local[threads]`.
  *
  * 1. Set-up: `GraftSession.local` plus the workload's untimed warm-up,
  *    counted from `main` entry (after the calibration loop of the
  *    contention stamp).
  * 2. The check pass: the first call of each operation on its input,
  *    writing every output the correctness check reads (`checks` in
  *    `results.json` names them, with their oracle SQL).
  * 3. Timed passes over the workload's operations, about `seconds` of
  *    them (untraced). A traced run splits the time: untraced passes,
  *    then passes under [[Trace]], then the layer probes.
  * 4. Four more set-up cycles (stop the session, set up again); `setup_s`
  *    is the median of the five.
  *
  * Writes `results.json` (and, traced, `spans.json`) to `--out`;
  * perfbench/run.py checks the outputs and prints the result.
  *
  * Args: --workload --seed --seconds --trace 0|1 --threads --fixture
  * --corpus --warm-corpus --work --out
  */
object Main {
  final case class Sample(pass: Int, op: String, cold: Boolean, seconds: Double,
                          construct: Double, plan: Double, exec: Double, error: Option[String])
  final case class Pass(index: Int, traced: Boolean, wall: Double, samples: Seq[Sample])

  val SetupCycles = 5
  /** Percentile of `query_tail_s` (nearest rank over all timed calls). */
  val TailPct = 90

  def loadAvg: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def procCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => -1.0 }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Milliseconds for a fixed single-thread integer loop: the host's
    * speed at that moment, for the contention stamp (loadavg alone does
    * not show a host that runs this VM slower). */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 0) System.err.println() // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e6
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def main(args: Array[String]): Unit = {
    val calibStart = calibrationMs()
    val entry = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val threads = a("threads").toInt
    val (work, out) = (a("work"), a("out"))
    val loadStart = loadAvg
    val cpuStart = procCpuSeconds
    val wl = Workloads(a("workload"), a("seed").toLong, a("fixture"),
      a.getOrElse("corpus", ""), a.getOrElse("warm-corpus", ""), work)

    // 1. set-up, the first of SetupCycles; the others follow the check pass
    val setups, starts, warms = ArrayBuffer.empty[Double]
    def setUp(from: Long): SparkSession = {
      val s0 = System.nanoTime()
      val s = GraftSession.local(threads, "perfbench")
      starts += since(s0)
      val w0 = System.nanoTime()
      wl.warmup(s)
      warms += since(w0)
      setups += since(from)
      System.err.println(f"[perfbench] set-up ${setups.size}/$SetupCycles: ${setups.last}%.3f s")
      s
    }
    var spark = setUp(entry)
    val sc = spark.sparkContext

    def runOp(op: Op, pass: Int, t: Option[Trace]): Sample = {
      val root = t.map(_.openSpan(s"op:${op.name}", 0))
      def phase[A](name: String)(f: => A): (A, Double) = {
        val span = for (tr <- t; r <- root) yield {
          val id = tr.openSpan(name, r)
          sc.setJobGroup(tr.group(id), op.name, false)
          id
        }
        val t0 = System.nanoTime()
        try (f, since(t0))
        finally for (tr <- t; id <- span) { tr.closeSpan(id); sc.clearJobGroup() }
      }
      val t0 = System.nanoTime()
      try {
        val (df, construct) = phase("construct")(op.build(spark))
        val (_, plan) =
          if (t.isEmpty) ((), 0.0)
          else phase("plan") { val qe = df.queryExecution; qe.executedPlan; t.get.addPhases(qe) }
        val (_, exec) = phase("exec")(op.sink(df))
        Sample(pass, op.name, op.cold, since(t0), construct, plan, exec, None)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed in pass $pass: ${describe(e)}")
        Sample(pass, op.name, op.cold, since(t0), 0, 0, 0, Some(describe(e)))
      } finally for (tr <- t; r <- root) tr.closeSpan(r)
    }

    var nextPass = 0
    def timedPasses(count: Int, t: Option[Trace]): Seq[Pass] = {
      val start = System.nanoTime()
      val passes = ArrayBuffer.empty[Pass]
      // the pass count is fixed; the time cap only guards a far slower host
      while (passes.size < count && since(start) < 3 * seconds) {
        val p = nextPass
        nextPass += 1
        val ops = wl.pass(p)
        val p0 = System.nanoTime()
        val samples = ops.map(runOp(_, p, t))
        passes += Pass(p, t.isDefined, since(p0), samples)
        System.err.println(f"[perfbench] pass $p${if (t.isDefined) " (traced)" else ""}: " +
          f"${passes.last.wall}%.3f s")
      }
      passes.toSeq
    }
    def passCount(budget: Double): Int = math.max(1, math.round(budget / wl.passSeconds).toInt)

    // 2. check pass: the first call of each operation on its input,
    // untimed but for its wall time (cold_s of a fixed-input workload)
    val checkDir = s"$work/check"
    val c0 = System.nanoTime()
    val checks = wl.checks(spark, checkDir).map { c =>
      val err = try { c.write(); None } catch { case e: Throwable =>
        System.err.println(s"[perfbench] check output ${c.out} failed: ${describe(e)}")
        Some(describe(e))
      }
      val sql = c.oracle.map(q => graft.SparkEntry.oracleSql.getOrElse(q, null))
      Map("out" -> c.out, "oracle" -> c.oracle, "sql" -> sql, "error" -> err)
    }
    val checkWall = since(c0)
    System.err.println(f"[perfbench] check pass: $checkWall%.3f s")
    // 3. timed passes
    val untraced =
      timedPasses(passCount(if (traced) seconds / 2 else seconds), None)
    val trace = if (traced) Some(new Trace) else None
    val tracedPasses = trace.map { tr =>
      sc.addSparkListener(tr)
      spark.listenerManager.register(tr)
      tr.recording = true
      val ps = timedPasses(passCount(seconds / 2), Some(tr))
      tr.quiesce()
      tr.recording = false
      spark.listenerManager.unregister(tr)
      sc.removeSparkListener(tr)
      ps
    }.getOrElse(Nil)
    val probes = if (traced) Layers.probe(spark, wl, a("fixture")) else Map.empty[String, Double]

    // the remaining set-up cycles: a stopped and rebuilt session runs
    // slower than the first one, so they come after every timed call
    for (_ <- 1 until SetupCycles) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.gc() // the timed passes' garbage is not set-up work
      spark = setUp(System.nanoTime())
    }
    val wallSec = since(entry)
    val cpuSec = procCpuSeconds - cpuStart
    val load = Map("loadavg_start" -> loadStart, "loadavg_end" -> loadAvg,
      "proc_cpu_s" -> cpuSec, "wall_s" -> wallSec,
      "cpu_wall_ratio" -> (if (wallSec > 0) cpuSec / wallSec else -1.0),
      "calibration_ms_start" -> calibStart, "calibration_ms_end" -> calibrationMs())

    val e2e = endToEnd(wl, untraced, setups.toSeq, checkWall)
    val layers = trace.map(tr =>
      layerMetrics(wl, tr, untraced, tracedPasses, probes, setups.toSeq, starts.toSeq,
        warms.toSeq, threads))
    val results = Map(
      "workload" -> wl.name, "seed" -> a("seed").toLong, "threads" -> threads,
      "seconds" -> seconds, "trace" -> traced, "input_bytes" -> wl.inputBytes,
      "setup" -> Map("cycles_s" -> setups, "session_start_s" -> starts, "warmup_s" -> warms),
      "passes" -> (untraced ++ tracedPasses).map(p => Map(
        "pass" -> p.index, "traced" -> p.traced, "wall_s" -> p.wall,
        "ops" -> p.samples.map(s => Map("op" -> s.op, "pass" -> s.pass, "cold" -> s.cold, "s" -> s.seconds,
          "construct_s" -> s.construct, "plan_s" -> s.plan, "exec_s" -> s.exec,
          "error" -> s.error)))),
      "query_tail_pct" -> TailPct,
      "timed_calls" -> untraced.map(_.samples.count(_.error.isEmpty)).sum,
      "metrics" -> e2e,
      "layers" -> layers,
      "traced_passes" -> tracedPasses.size,
      "self_s" -> trace.map(_.selfTimes),
      "load" -> load,
      "checks" -> checks)
    Files.createDirectories(Paths.get(out))
    trace.foreach { tr =>
      Files.write(Paths.get(out, "spans.json"), Json(tr.allSpans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end))).getBytes(UTF_8))
    }
    Files.write(Paths.get(out, "results.json"), Json(results).getBytes(UTF_8))
    spark.stop()
  }

  /** End-to-end metrics from the untraced passes (definitions: README.md). */
  def endToEnd(wl: Workload, passes: Seq[Pass], setups: Seq[Double],
               checkWall: Double): Map[String, Double] = {
    val ok = passes.flatMap(_.samples).filter(_.error.isEmpty)
    val lat = ok.map(_.seconds).sorted
    val n = lat.size
    val tail = if (n == 0) Double.NaN else lat(math.max(0, math.ceil(TailPct / 100.0 * n).toInt - 1))
    val wall = median(passes.map(_.wall))
    val tpTime = wl.throughputOp.map(o => median(ok.filter(_.op == o).map(_.seconds))).getOrElse(wall)
    val (cold, warm) =
      if (wl.freshInputs)
        (median(passes.map(_.samples.filter(_.cold).map(_.seconds).sum)),
         median(passes.map(_.samples.filterNot(_.cold).map(_.seconds).sum)))
      else (checkWall, wall)
    Map(
      "setup_s" -> median(setups),
      "wall_s" -> wall,
      "throughput_mb_s" -> wl.inputBytes / 1e6 / tpTime,
      "query_p50_s" -> median(lat),
      "query_tail_s" -> tail,
      "cold_s" -> cold,
      "warm_s" -> warm,
      "peak_rss_mb" -> peakRssMb)
  }

  /** Per-layer metrics of the traced run; counts are per traced pass. */
  def layerMetrics(wl: Workload, tr: Trace, untraced: Seq[Pass], traced: Seq[Pass],
                   probes: Map[String, Double], setups: Seq[Double], starts: Seq[Double],
                   warms: Seq[Double],
                   threads: Int): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val c = tr.c
    val samples = traced.flatMap(_.samples)
    val tracedWall = traced.map(_.wall).sum
    val warmUntraced = if (untraced.size > 1) untraced.drop(1) else untraced
    // wc_text: shuffle records per token tokenized; otherwise per record scanned
    val combineBase =
      if (wl.throughputOp.isDefined) probes("textpipeline.tokens") * traced.head.samples.size
      else c("read_records") / n
    Map(
      "session.first_setup_s" -> setups.head,
      "session.start_s" -> median(starts),
      "session.warmup_s" -> median(warms),
      "io.read_bytes" -> c("read_bytes") / n,
      "io.read_records" -> c("read_records") / n,
      "io.write_bytes" -> c("write_bytes") / n,
      "io.write_records" -> c("write_records") / n,
      "queries.construct_s" -> samples.map(_.construct).sum / n,
      "queries.construct_jobs" -> c("construct_jobs") / n,
      "catalyst.plan_s" -> samples.map(_.plan).sum / n,
      "catalyst.analysis_ms" -> c("analysis_ms") / n,
      "catalyst.optimization_ms" -> c("optimization_ms") / n,
      "catalyst.planning_ms" -> c("planning_ms") / n,
      "catalyst.exchanges" -> c("exchanges") / n,
      "catalyst.sort_merge_joins" -> c("sort_merge_joins") / n,
      "catalyst.broadcast_joins" -> c("broadcast_joins") / n,
      "catalyst.windows" -> c("windows") / n,
      "exec.wall_s" -> samples.map(_.exec).sum / n,
      "exec.jobs" -> c("jobs") / n,
      "exec.stages" -> c("stages") / n,
      "exec.tasks" -> c("tasks") / n,
      "exec.task_s" -> c("task_ms") / 1e3 / n,
      "exec.task_cpu_s" -> c("task_cpu_ns") / 1e9 / n,
      "exec.gc_s" -> c("gc_ms") / 1e3 / n,
      "exec.sched_delay_s" -> c("sched_delay_ms") / 1e3 / n,
      "exec.busy_frac" -> c("task_ms") / 1e3 / (tracedWall * threads),
      "exec.skew" -> math.max(1.0, c("skew")),
      "exec.failed_tasks" -> c("failed_tasks") / n,
      "shuffle.write_bytes" -> c("shuffle_write_bytes") / n,
      "shuffle.read_bytes" -> c("shuffle_read_bytes") / n,
      "shuffle.records_written" -> c("shuffle_records_written") / n,
      "shuffle.fetch_wait_s" -> c("fetch_wait_ms") / 1e3 / n,
      "shuffle.spill_bytes" -> c("spill_bytes") / n,
      "shuffle.peak_exec_mem_mb" -> c("peak_exec_mem") / (1 << 20),
      "shuffle.combine_ratio" ->
        (if (combineBase > 0) c("shuffle_records_written") / n / combineBase else 0.0),
      "trace_overhead_frac" ->
        (median(traced.map(_.wall)) / median(warmUntraced.map(_.wall)) - 1)
    ) ++ probes
  }
}
