package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Expression, Explode, IsNotNull, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

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
  * (`maprdeuce.cpp:683-748`) as one operator. Each partition runs the
  * shared tokenizer loop ([[NormalizedTokens.scan]]) over each line in
  * place and counts the tokens in a [[TokenCountTable]], then emits one
  * UnsafeRow per distinct word. No line is copied and nothing is
  * allocated per token; the table allocates only when it meets a new
  * word. When the table fills it emits its partials and starts over, the
  * way the reference combines per 100k-line block, so memory stays
  * bounded. */
case class TokenCountsExec(text: Attribute, word: Attribute, pc: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(word, pc)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "number of table flushes"))

  protected override def doExecute(): RDD[InternalRow] = {
    val ordinal = child.output.indexWhere(_.exprId == text.exprId)
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    child.execute().mapPartitions { rows =>
      val table = new TokenCountTable
      val writer = new UnsafeRowWriter(2)
      var emitted = 0
      // count lines until the table fills or the partition ends
      def fill(): Unit = {
        table.reset()
        emitted = 0
        while (!table.full && rows.hasNext) {
          val r = rows.next()
          if (!r.isNullAt(ordinal)) NormalizedTokens.scan(r.getUTF8String(ordinal), table)
        }
        if (table.full) numFlushes += 1
      }
      new Iterator[InternalRow] {
        def hasNext: Boolean =
          emitted < table.size || (rows.hasNext && { fill(); emitted < table.size })
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
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsExec =
    copy(child = newChild)
}

/** Open-addressing count table keyed on normalized token bytes. Words
  * live back to back in one byte arena; entries keep insertion order, so
  * the operator emits words in first-seen order, as the partial hash
  * aggregate it replaces did. */
private[graft] final class TokenCountTable extends TokenSink {
  import TokenCountTable._

  private var slots = new Array[Int](64) // entry index + 1; 0 = empty
  private var hashes = new Array[Int](32)
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

  def token(buf: Array[Byte], len: Int): Unit = {
    var h = 0
    var i = 0
    while (i < len) { h = 31 * h + buf(i); i += 1 }
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    val mask = slots.length - 1
    var s = h & mask
    var e = slots(s) - 1
    while (e >= 0 && !(hashes(e) == h && lens(e) == len && sameBytes(offs(e), buf, len))) {
      s = (s + 1) & mask
      e = slots(s) - 1
    }
    if (e >= 0) counts(e) += 1
    else {
      add(h, buf, len)
      slots(s) = n
      if (n * 2 > slots.length) rehash()
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

  private def add(h: Int, buf: Array[Byte], len: Int): Unit = {
    if (n == hashes.length) {
      hashes = java.util.Arrays.copyOf(hashes, n * 2)
      offs = java.util.Arrays.copyOf(offs, n * 2)
      lens = java.util.Arrays.copyOf(lens, n * 2)
      counts = java.util.Arrays.copyOf(counts, n * 2)
    }
    if (used + len > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
    System.arraycopy(buf, 0, arena, used, len)
    hashes(n) = h
    offs(n) = used
    lens(n) = len
    counts(n) = 1L
    used += len
    n += 1
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
  /** Distinct words per flush: about 2 MB of slot, hash, offset, length
    * and count arrays, a fixed bound like the reference's 100k-line
    * block, not a setting. */
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
