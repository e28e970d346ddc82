package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression: |A ∩ B| for two SORTED, DISTINCT
  * ARRAY<STRING> or ARRAY<BIGINT> columns via a merge scan — O(|A|+|B|)
  * comparisons, zero allocation (the BIGINT form serves the hashed
  * verification stores, where 8-byte shingle hashes replace strings).
  *
  * `array_intersect` builds a hash set per row pair; on an all-pairs
  * near-dup verifier that is millions of transient hash sets (measured:
  * the dominant cost of q_ngram_jaccard at sf0.1). Inputs must be sorted
  * ascending and duplicate-free (`array_sort` over the distinct shingle
  * set — sorted once per DOCUMENT, amortized over all its pairs); the
  * count is then exactly `size(array_intersect(a, b))`, so the DuckDB
  * oracle keeps using `len(list_intersect(...))` unchanged — the kernel
  * changes the plan, not the answer.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  // inputs: two ARRAY<STRING> or two ARRAY<BIGINT>, each sorted
  // ascending + duplicate-free
  override def dataType: DataType = IntegerType

  private def longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def prettyName: String = "sorted_intersect_count"

  // SQL-registered (GraftExtensions): misuse fails at analysis time.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<STRING> or two ARRAY<BIGINT>, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.mergeCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], longElems)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val merge = classOf[SortedIntersectCount].getName + ".mergeCount"
    defineCodeGen(ctx, ev, (a, b) => s"$merge($a, $b, $longElems)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** THE merge loop: |x ∩ y| for two ascending, duplicate-free arrays of
    * BIGINT (`longs`) or STRING elements, in O(|x| + |y|) comparisons
    * with no allocation. Shared by the interpreted path, the generated
    * code and the streaming dedup registry
    * (graft.streaming.Windows.dedupRegistryUpdate). */
  def mergeCount(x: ArrayData, y: ArrayData, longs: Boolean): Int = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val cmp =
        if (longs) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SortedIntersectCount].getName, "sorted_intersect_count")
}
