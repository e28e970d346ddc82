package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Native Catalyst expression: nearest-centroid assignment — the argmin
  * over squared L2 distance of a vector against a (broadcast) centroid
  * array, ties to the lowest cell id.
  *
  * `argmin_cell(v: ARRAY<DOUBLE>, cells: ARRAY<STRUCT<cell BIGINT, cv
  * ARRAY<DOUBLE>>>) -> BIGINT`
  *
  * Replaces the composed HOF form
  * `array_min(transform(cs, c -> struct(aggregate(zip_with(v, c.cv,
  * (x,y) -> (x-y)*(x-y)), 0.0, +), c.cell))).cell` — which walks the
  * vector through interpreted lambdas and allocates a product array plus
  * a struct per centroid PER ROW — with one allocation-free nested loop
  * in whole-stage codegen. This is the per-row hot path of every Lloyd
  * iteration and of IVF index construction (Similarity's `Lloyd.assign`).
  *
  * Float contract: each distance accumulates (x−y)² left-to-right in
  * element order — bit-identical to the sequential `aggregate` fold it
  * replaces and to DuckDB's `list_sum(list_transform(...))` — and the
  * winner is the lexicographic (d2, cell) minimum, exactly `array_min`
  * over `struct(d2, cell)` / the oracle's `ORDER BY d2 ASC, cell ASC`
  * `row_number() = 1`. Oracle parity is proved by the unchanged
  * q_ann_ivf / q_dedup_semantic hash matches.
  */
case class ArgMinCell(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  // can evaluate to null on NON-null input (empty / all-malformed cell
  // array) — must not inherit children's nullability, or codegen's
  // non-nullable branch would set an undeclared isNull local
  override def nullable: Boolean = true
  override def prettyName: String = "argmin_cell"

  // SQL-registered (GraftExtensions): misuse fails at ANALYSIS time.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(st: StructType, _))
        if st.fields.length == 2 && st.fields(0).dataType == LongType &&
          (st.fields(1).dataType match {
            case ArrayType(DoubleType, _) => true; case _ => false }) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>>>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cells = b.asInstanceOf[ArrayData]
    val m = cells.numElements()
    if (m == 0) return null
    var bestCell = 0L; var bestD2 = 0.0; var first = true
    var j = 0
    while (j < m) {
      // parquet-read arrays carry containsNull=true even when no element
      // is null; a null centroid struct or cv contributes no candidate,
      // a null double element contributes no distance term
      if (!cells.isNullAt(j)) {
        val row = cells.getStruct(j, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val cell = row.getLong(0)
          val cv = row.getArray(1)
          val n = math.min(v.numElements(), cv.numElements())
          var d2 = 0.0; var i = 0
          while (i < n) {
            if (!v.isNullAt(i) && !cv.isNullAt(i)) {
              val d = v.getDouble(i) - cv.getDouble(i)
              d2 += d * d
            }
            i += 1
          }
          if (first || d2 < bestD2 || (d2 == bestD2 && cell < bestCell)) {
            bestD2 = d2; bestCell = cell; first = false
          }
        }
      }
      j += 1
    }
    if (first) null else bestCell
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cells) => {
      val m = ctx.freshName("m"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val row = ctx.freshName("row"); val cv = ctx.freshName("cv")
      val cell = ctx.freshName("cell"); val d2 = ctx.freshName("d2")
      val d = ctx.freshName("d")
      val bestCell = ctx.freshName("bestCell")
      val bestD2 = ctx.freshName("bestD2")
      val first = ctx.freshName("first")
      s"""
         |int $m = $cells.numElements();
         |long $bestCell = 0L; double $bestD2 = 0.0; boolean $first = true;
         |for (int $j = 0; $j < $m; $j++) {
         |  if ($cells.isNullAt($j)) continue;
         |  org.apache.spark.sql.catalyst.InternalRow $row = $cells.getStruct($j, 2);
         |  if ($row.isNullAt(0) || $row.isNullAt(1)) continue;
         |  long $cell = $row.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(1);
         |  int $n = java.lang.Math.min($v.numElements(), $cv.numElements());
         |  double $d2 = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($v.isNullAt($i) || $cv.isNullAt($i)) continue;
         |    double $d = $v.getDouble($i) - $cv.getDouble($i);
         |    $d2 += $d * $d;
         |  }
         |  if ($first || $d2 < $bestD2 || ($d2 == $bestD2 && $cell < $bestCell)) {
         |    $bestD2 = $d2; $bestCell = $cell; $first = false;
         |  }
         |}
         |if ($first) { ${ev.isNull} = true; } else { ${ev.value} = $bestCell; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgMinCell =
    copy(left = newLeft, right = newRight)
}

object ArgMinCell {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[ArgMinCell].getName, "argmin_cell")
}
