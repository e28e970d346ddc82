package graft.plans

import java.nio.charset.{Charset, StandardCharsets}
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FSDataInputStream
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Expression, Explode, IsNotNull, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{ExecSubqueryExpression, FileSourceScanExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.{FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.text.{TextFileFormat, TextOptions}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Logical node: one `(word, pc)` row per distinct normalized token of
  * `text` among a run of input rows, `pc` being its count in that run.
  * Several rows may carry the same word (one per table flush), so a
  * consumer sums `pc`. Built only by [[FuseTokenCount]]. */
case class TokenCounts(text: Attribute, word: Attribute, pc: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = Seq(word, pc)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCounts =
    copy(child = newChild)
}

/** The map-side word count — the reference's "middle reduce"
  * (`maprdeuce.cpp:683-748`) as one operator. It runs the shared
  * tokenizer loop ([[NormalizedTokens.scan]]) over each line in place,
  * counts the tokens in a [[TokenCountTable]], and emits one UnsafeRow
  * per distinct word. No line is copied and nothing is allocated per
  * token; the table allocates only when it meets a new word. When the
  * table fills it emits its partials and starts over, the way the
  * reference combines per 100k-line block, so memory stays bounded.
  *
  * Its lines come from one of two inputs:
  *  - a plain text-file scan (`spark.read.text`: the one `value` column,
  *    no data filter, no `wholetext`, `lineSep` or non-UTF-8 `encoding`,
  *    no compressed file) is not executed. The operator reads the scan's
  *    own file splits in place instead ([[SplitLines]]), one
  *    [[FileScanRDD]] task per partition of the scan, one table per
  *    split. Like the reference, which reads its file directly in
  *    100k-line blocks, it cuts lines out of a reused read buffer, with
  *    no line reader and no row in between. Split `[s, e)` owns the bytes
  *    `[B(s), B(e))`, where `B(0) = 0` and `B(x)` is one past the first CR
  *    or LF at or after `x` (the file length if there is none). Adjacent
  *    splits compute the same boundary, so the splits tile the file, and
  *    a token never holds CR or LF, so the tokens counted are those of
  *    Hadoop's lines. `numInPlaceSplits` counts the splits read this way.
  *  - any other child: its rows, text column by text column.
  *
  * On a 4-core VM, reading the 66 MB perfbench corpus with 4 tasks took
  * 117-120 ms through Spark's text scan (110 ms of it in Hadoop's line
  * reader) and 55-64 ms in place. With the packed keys of
  * [[TokenCountTable]] as well, perfbench `wc_text` (10 alternating pairs,
  * `tools/perfbench_ab.py`) read 130.7 MB/s against 102.4 (10 of 10
  * pairs), task time per pass fell from 2.56 to 1.45 s, and the 1.1 GB
  * `tools.BaselineScale` word count took 3.1-3.5 s against 5.3-5.6. */
case class TokenCountsExec(text: Attribute, word: Attribute, pc: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(word, pc)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "number of table flushes"),
    "numInPlaceSplits" -> SQLMetrics.createMetric(sparkContext, "number of splits read in place"))

  /** The child, if it is a text scan whose splits [[SplitLines]] reads
    * exactly as Spark's line reader would, with the scan's splits and
    * Hadoop configuration. */
  private def plainText: Option[(FileSourceScanExec, FileScanRDD, Configuration)] = {
    val scan = child match {
      case s: FileSourceScanExec => Some(s)
      case WholeStageCodegenExec(s: FileSourceScanExec) => Some(s)
      case _ => None
    }
    scan.filter { s =>
      val opts = new TextOptions(s.relation.options)
      s.relation.fileFormat.isInstanceOf[TextFileFormat] && s.dataFilters.isEmpty &&
        !s.partitionFilters.exists(_.exists(_.isInstanceOf[ExecSubqueryExpression])) &&
        s.output.map(_.exprId) == Seq(text.exprId) &&
        !opts.wholeText && opts.lineSeparator.isEmpty &&
        opts.encoding.forall(e => Try(Charset.forName(e)).toOption.contains(StandardCharsets.UTF_8))
    }.flatMap(s => s.inputRDD match {
      case rdd: FileScanRDD =>
        val conf = s.relation.sparkSession.sessionState.newHadoopConfWithOptions(s.relation.options)
        val codecs = new CompressionCodecFactory(conf)
        if (rdd.filePartitions.forall(_.files.forall(f => codecs.getCodec(f.toPath) == null)))
          Some((s, rdd, conf))
        else None
      case _ => None
    })
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    plainText match {
      case Some((scan, rdd, hadoopConf)) =>
        val numInPlaceSplits = longMetric("numInPlaceSplits")
        val conf = sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
        new FileScanRDD(scan.relation.sparkSession, { file =>
          numInPlaceSplits += 1
          new TokenCountRows(SplitLines.open(file, conf.value.value), numOutputRows, numFlushes)
        }, rdd.filePartitions, schema,
          options = new FileSourceOptions(CaseInsensitiveMap(scan.relation.options)))
      case None =>
        val ordinal = child.output.indexWhere(_.exprId == text.exprId)
        child.execute().mapPartitions { rows =>
          val lines = rows.filter(!_.isNullAt(ordinal)).map(_.getUTF8String(ordinal))
          new TokenCountRows(lines, numOutputRows, numFlushes)
        }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsExec =
    copy(child = newChild)
}

/** `(word, pc)` rows of the tokens of `lines`: counts lines into a
  * table until it fills or the lines end, emits the table, and repeats.
  * Each line is scanned before the next is asked for, so a line may be a
  * view of a buffer that the next one overwrites. */
private final class TokenCountRows(
    lines: Iterator[UTF8String], numOutputRows: SQLMetric, numFlushes: SQLMetric)
    extends Iterator[InternalRow] {
  private val table = new TokenCountTable
  private val writer = new UnsafeRowWriter(2)
  private var emitted = 0

  private def fill(): Unit = {
    table.reset()
    emitted = 0
    while (!table.full && lines.hasNext) NormalizedTokens.scan(lines.next(), table)
    if (table.full) numFlushes += 1
  }

  def hasNext: Boolean =
    emitted < table.size || (lines.hasNext && { fill(); emitted < table.size })

  def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    writer.reset()
    writer.zeroOutNullBytes()
    table.write(emitted, writer)
    emitted += 1
    numOutputRows += 1
    writer.getRow
  }
}

/** The lines of one split `[start, end)` of an uncompressed text file,
  * under the ownership rule of [[TokenCountsExec]]: skip to one past the
  * first CR or LF at or after `start` (unless `start` is 0), then return
  * each line up to and including the one whose terminator lies at or
  * after `end`, or up to the end of the file. A line is a view of one
  * reused read buffer, valid until the next `hasNext`; the buffer grows
  * only for a line longer than itself. Empty lines are skipped. */
private final class SplitLines(in: FSDataInputStream, start: Long, end: Long)
    extends Iterator[UTF8String] {
  private var buf = new Array[Byte](SplitLines.BufferSize)
  private var pos = start // file offset of buf(0)
  private var lo = 0 // start of the next line in buf
  private var hi = 0 // end of the bytes read into buf
  private var line: UTF8String = null
  private var done = false

  in.seek(start)
  if (start > 0) {
    val t = terminator(0)
    lo = t + 1
    endsAt(t)
  }

  /** Ends the split (and closes the stream) if the terminator at `buf(t)`
    * lies at or after `end`, or if `t` is -1, the end of the file. */
  private def endsAt(t: Int): Unit =
    if (t < 0 || pos + t >= end) { done = true; in.close() }

  /** Index of the first CR or LF at or after `buf(i)`, reading more as
    * needed; -1 at the end of the file. Keeps `buf(lo until hi)`. */
  private def terminator(from: Int): Int = {
    var i = from
    while (true) {
      val b = buf
      val h = hi
      while (i < h) {
        val c = b(i)
        if (c == '\n' || c == '\r') return i
        i += 1
      }
      if (lo > 0) { // move the line so far to the front
        System.arraycopy(buf, lo, buf, 0, hi - lo)
        pos += lo; i -= lo; hi -= lo; lo = 0
      }
      if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = in.read(buf, hi, buf.length - hi)
      if (n < 0) return -1
      hi += n
    }
    -1
  }

  def hasNext: Boolean = {
    while (line == null && !done) {
      val t = terminator(lo)
      val stop = if (t < 0) hi else t
      if (stop > lo) line = UTF8String.fromBytes(buf, lo, stop - lo)
      lo = stop + 1
      endsAt(t)
    }
    line != null
  }

  def next(): UTF8String = {
    if (!hasNext) throw new NoSuchElementException
    val l = line
    line = null
    l
  }
}

private object SplitLines {
  /** Initial read buffer: 64 KiB, the size of Hadoop's line reader buffer. */
  val BufferSize: Int = 1 << 16

  /** The lines of `file`'s split; the stream closes at the end of the
    * split or of the task. */
  def open(file: PartitionedFile, conf: Configuration): SplitLines = {
    val path = file.toPath
    val in = path.getFileSystem(conf).open(path)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    new SplitLines(in, file.start, file.start + file.length)
  }
}

/** Open-addressing count table keyed on normalized tokens. Words live
  * back to back in one byte arena; entries keep insertion order, so the
  * operator emits words in first-seen order, as the partial hash
  * aggregate it replaces did.
  *
  * A token of at most 8 letters is keyed by its packed long (see
  * [[TokenSink.token]]): one multiply-mix to probe, one `long` compare per
  * entry. Longer tokens hash and compare their bytes; their entries hold
  * key 0, which no short token packs to, and a short entry's length never
  * equals a long token's. Both kinds share the slots and the entry list,
  * and every word's bytes go to the arena, so [[write]] is the same for
  * both. */
private[graft] final class TokenCountTable extends TokenSink {
  import TokenCountTable._

  private var slots = new Array[Int](64) // entry index + 1; 0 = empty
  private var hashes = new Array[Int](32)
  private var keys = new Array[Long](32)
  private var offs = new Array[Int](32)
  private var lens = new Array[Int](32)
  private var counts = new Array[Long](32)
  private var arena = new Array[Byte](1024)
  private var used = 0
  private var n = 0

  /** Distinct words held. */
  def size: Int = n

  /** True once the table holds [[MaxWords]] words or [[MaxBytes]] word
    * bytes; checked between lines, so one line can overshoot. */
  def full: Boolean = n >= MaxWords || used >= MaxBytes

  def reset(): Unit = {
    if (n > 0) java.util.Arrays.fill(slots, 0)
    n = 0
    used = 0
  }

  def token(buf: Array[Byte], len: Int, key: Long): Unit = {
    val mask = slots.length - 1
    if (len <= 8) {
      val k = (key ^ (key >>> 32)) * 0x9e3779b97f4a7c15L
      val h = (k >>> 32).toInt
      var s = h & mask
      var e = slots(s) - 1
      while (e >= 0 && keys(e) != key) {
        s = (s + 1) & mask
        e = slots(s) - 1
      }
      if (e >= 0) counts(e) += 1 else add(s, h, key, buf, len)
    } else {
      var h = 0
      var i = 0
      while (i < len) { h = 31 * h + buf(i); i += 1 }
      h ^= h >>> 16
      h *= 0x85ebca6b
      h ^= h >>> 13
      var s = h & mask
      var e = slots(s) - 1
      while (e >= 0 && !(hashes(e) == h && lens(e) == len && sameBytes(offs(e), buf, len))) {
        s = (s + 1) & mask
        e = slots(s) - 1
      }
      if (e >= 0) counts(e) += 1 else add(s, h, 0L, buf, len)
    }
  }

  /** Write entry `e` as `(word, pc)`. */
  def write(e: Int, w: UnsafeRowWriter): Unit = {
    w.write(0, arena, offs(e), lens(e))
    w.write(1, counts(e))
  }

  private def sameBytes(off: Int, buf: Array[Byte], len: Int): Boolean = {
    var i = 0
    while (i < len && arena(off + i) == buf(i)) i += 1
    i == len
  }

  /** Append a new entry and point empty slot `s` at it. */
  private def add(s: Int, h: Int, key: Long, buf: Array[Byte], len: Int): Unit = {
    if (n == hashes.length) {
      hashes = java.util.Arrays.copyOf(hashes, n * 2)
      keys = java.util.Arrays.copyOf(keys, n * 2)
      offs = java.util.Arrays.copyOf(offs, n * 2)
      lens = java.util.Arrays.copyOf(lens, n * 2)
      counts = java.util.Arrays.copyOf(counts, n * 2)
    }
    if (used + len > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
    System.arraycopy(buf, 0, arena, used, len)
    hashes(n) = h
    keys(n) = key
    offs(n) = used
    lens(n) = len
    counts(n) = 1L
    used += len
    n += 1
    slots(s) = n
    if (n * 2 > slots.length) rehash()
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    val mask = slots.length - 1
    var e = 0
    while (e < n) {
      var s = hashes(e) & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = e + 1
      e += 1
    }
  }
}

private[graft] object TokenCountTable {
  /** Distinct words per flush: about 2.3 MB of slot, hash, key, offset,
    * length and count arrays, a fixed bound like the reference's
    * 100k-line block, not a setting. */
  val MaxWords: Int = 1 << 16
  /** Word bytes per flush (the arena; a single longer token still fits). */
  val MaxBytes: Int = 1 << 22
}

/** Optimizer rule that fuses the tokenizer and the map-side combine.
  *
  * Rewrites
  * `Aggregate([w], [.. count(1) | count(w) ..], Generate(explode(normalized_tokens(t)), outer = false, [w]))`
  * into `Aggregate([w], [.. sum(pc) ..], TokenCounts(t))`, and the single
  * `count(DISTINCT w)` over the same Generate into
  * `count(1)` over `Aggregate([w], [w], TokenCounts(t))`. The result list
  * may hold any expressions of `w` beside the counts, but no other
  * aggregate function. Each rewritten count keeps its name, exprId, type
  * and non-nullability, so the plan's schema is unchanged. The one node
  * allowed between the two is `Filter(isnotnull(w))`, which the optimizer
  * infers when the counts are joined on `w`: the tokenizer never emits a
  * null token, so that filter is always true. Anything else (another
  * grouping column, another Filter, `explode_outer`, another aggregate
  * function) leaves the plan alone.
  *
  * To run a query without it (A/B runs), pass this rule's name to Spark's
  * optimizer exclusion list:
  * `spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.FuseTokenCount")`.
  */
object FuseTokenCount extends Rule[LogicalPlan] {

  /** `Generate(explode(normalized_tokens(t)), outer = false, [w], child)`
    * with `t` deterministic, optionally under `Filter(isnotnull(w))`, as
    * `(w, t, child)`. */
  private object Tokens {
    def unapply(p: LogicalPlan): Option[(Attribute, Expression, LogicalPlan)] = p match {
      case Generate(Explode(NormalizedTokens(t)), _, false, _, Seq(w), child)
          if t.deterministic => Some((w, t, child))
      case Filter(IsNotNull(a: Attribute), Tokens(w, t, child)) if a.exprId == w.exprId =>
        Some((w, t, child))
      case _ => None
    }
  }

  /** `count(1)` (any non-null literal) or `count(w)`, no FILTER, not distinct. */
  private def isTokenCount(e: Expression, w: Attribute): Boolean = e match {
    case AggregateExpression(Count(Seq(arg)), Complete, false, None, _) => arg match {
      case Literal(v, _) => v != null
      case a: Attribute => a.exprId == w.exprId
      case _ => false
    }
    case _ => false
  }

  private def tokenCounts(t: Expression, w: Attribute, child: LogicalPlan): TokenCounts = {
    val pc = AttributeReference("pc", LongType, nullable = false)()
    t match {
      case a: Attribute if child.output.size == 1 => TokenCounts(a, w, pc, child)
      // only the text column flows in (the rule may run before column pruning)
      case a: Attribute => TokenCounts(a, w, pc, Project(Seq(a), child))
      case _ =>
        val al = Alias(t, "text")()
        TokenCounts(al.toAttribute, w, pc, Project(Seq(al), child))
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a @ Aggregate(Seq(g: Attribute), aggs, Tokens(w, t, child), _)
        if g.exprId == w.exprId &&
          aggs.flatMap(_.collect { case ae: AggregateExpression => ae }).forall(isTokenCount(_, w)) =>
      val tc = tokenCounts(t, w, child)
      // each group holds at least one partial, so the sum is never null
      val sumPc = KnownNotNull(AggregateExpression(Sum(tc.pc), Complete, isDistinct = false))
      a.copy(
        aggregateExpressions = aggs.map(_.transformUp {
          case _: AggregateExpression => sumPc
        }.asInstanceOf[NamedExpression]),
        child = tc)

    case a @ Aggregate(Seq(),
        Seq(al @ Alias(AggregateExpression(Count(Seq(c: Attribute)), Complete, true, None, _), _)),
        Tokens(w, t, child), _) if c.exprId == w.exprId =>
      val one = AggregateExpression(Count(Literal(1)), Complete, isDistinct = false)
      a.copy(
        aggregateExpressions = Seq(al.withNewChildren(Seq(one)).asInstanceOf[NamedExpression]),
        child = Aggregate(Seq(w), Seq(w), tokenCounts(t, w, child)))
  }
}

/** Plans [[TokenCounts]] as [[TokenCountsExec]]. */
object TokenCountsStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TokenCounts(text, word, pc, child) =>
      TokenCountsExec(text, word, pc, planLater(child)) :: Nil
    case _ => Nil
  }
}
