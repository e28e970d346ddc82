package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the reference tokenizer
  * (TextPipeline.normalizedTokens) as ONE byte-level pass —
  * split on the single space character, keep `[a-zA-Z]` only,
  * ASCII-lowercase, drop empty tokens.
  *
  * Semantics are EXACTLY the composed form it replaces,
  * `filter(transform(split(text, " ", -1), t -> lower(regexp_replace(t,
  * "[^a-zA-Z]", ""))), x -> x <> "")`, argued byte-by-byte:
  *  - the split boundary is the literal space byte 0x20, and no UTF-8
  *    multi-byte sequence contains 0x20 (continuation bytes are
  *    0x80-0xBF), so byte-level splitting equals the regex split;
  *  - the regex deletes every codepoint outside [a-zA-Z]; each such
  *    codepoint is either a single non-letter ASCII byte or a multi-byte
  *    sequence whose bytes are ALL >= 0x80 — so keeping exactly the
  *    bytes in [A-Za-z] deletes exactly the same characters;
  *  - after deletion only ASCII letters remain, so `lower` is the
  *    locale-free +0x20 on [A-Z] (the GraftSession Locale.ROOT pin makes
  *    this true for the composed form as well);
  *  - zero-length tokens (consecutive spaces, all-stripped tokens) are
  *    dropped exactly like the trailing filter.
  *
  * Why it exists (r15, guide §1.2 step 2 "per-task work" / §4.1 "prefer
  * fused native"): the composed form runs THREE interpreted
  * higher-order lambdas per row and compiles a regex state machine per
  * token; tokenization is the dominant per-task cost of the text tier
  * (~60 queries read it, most more than once). The kernel is one
  * allocation-bounded byte scan inside whole-stage codegen; the loop
  * itself is [[NormalizedTokens.scan]], shared with the fused word-count
  * operator TokenCountsExec. The DuckDB
  * oracle keeps its own spelling (TextPipeline.duckToks), so the
  * byte-equivalence argument above is re-proven by the 288-query hash
  * gate on every verify run.
  */
case class NormalizedTokens(child: Expression) extends UnaryExpression {

  // containsNull mirrors the composed filter/transform/split form so the
  // kernel is a schema-exact drop-in (we never actually emit nulls).
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "normalized_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${other.simpleString}")
    }

  // one builder per expression instance: its token buffer is reused
  // across rows (interpreted path); codegen keeps its own as class state
  @transient private lazy val builder = new TokenArrayBuilder

  override def nullSafeEval(input: Any): Any =
    builder.toks(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addMutableState(classOf[TokenArrayBuilder].getName, "tokArray",
      v => s"$v = new ${classOf[TokenArrayBuilder].getName}();")
    defineCodeGen(ctx, ev, c => s"$b.toks($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizedTokens =
    copy(child = newChild)
}

/** Receiver of the tokens [[NormalizedTokens.scan]] finds. The token
  * buffer belongs to the sink and is reused across tokens and rows; it
  * grows only when a token is longer than any seen before. */
abstract class TokenSink {
  private[plans] var buf: Array[Byte] = new Array[Byte](32)

  /** One non-empty normalized token, held in `buf(0 until len)` and valid
    * only until this call returns. */
  def token(buf: Array[Byte], len: Int): Unit
}

/** The array form: one `ARRAY<STRING>` per row, one allocation per token. */
final class TokenArrayBuilder extends TokenSink {
  private val out = new java.util.ArrayList[UTF8String]()

  def token(buf: Array[Byte], len: Int): Unit =
    out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len)))

  def toks(s: UTF8String): ArrayData = {
    out.clear()
    NormalizedTokens.scan(s, this)
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size)))
  }
}

object NormalizedTokens {
  /** Byte -> its normalized letter (`[A-Z]` lowered, `[a-z]` kept), or 0
    * for a byte the normalization deletes. */
  private val Letter: Array[Byte] = Array.tabulate[Byte](256) { b =>
    if (b >= 'a' && b <= 'z') b.toByte
    else if (b >= 'A' && b <= 'Z') (b + 32).toByte
    else 0
  }

  /** THE tokenizer loop (SURVEY.md §2.3), shared by the array kernel and
    * the fused word-count operator (TokenCountsExec): one pass over the
    * UTF-8 bytes in place (no copy of the line), handing each non-empty
    * normalized token to `sink`. */
  def scan(s: UTF8String, sink: TokenSink): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var buf = sink.buf
    var bl = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == 0x20) {
        if (bl > 0) { sink.token(buf, bl); bl = 0 }
      } else {
        val c = Letter(b & 0xff)
        if (c != 0) {
          if (bl == buf.length) {
            buf = java.util.Arrays.copyOf(buf, bl * 2)
            sink.buf = buf
          }
          buf(bl) = c
          bl += 1
        }
      }
      i += 1
    }
    if (bl > 0) sink.token(buf, bl)
  }

  val info: ExpressionInfo =
    new ExpressionInfo(classOf[NormalizedTokens].getName, "normalized_tokens")
}
