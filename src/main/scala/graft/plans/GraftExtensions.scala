package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The engine's `SparkSessionExtensions` hook — the sanctioned public
  * extension point for custom expressions/rules/strategies. Install via
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  *
  * Currently injects:
  *  - `cosine_sim(ARRAY<DOUBLE>, ARRAY<DOUBLE>) -> DOUBLE` (fused
  *    codegen kernel, see CosineSimilarity);
  *  - `sorted_intersect_count(ARRAY<STRING>, ARRAY<STRING>) -> INT`
  *    (merge-scan kernel, see SortedIntersectCount);
  *  - `simhash32(ARRAY<BIGINT>) -> BIGINT` (one-pass SimHash);
  *  - `argmin_cell(ARRAY<DOUBLE>, ARRAY<STRUCT<cell,cv>>) -> BIGINT`
  *    (nearest-centroid assignment, see ArgMinCell);
  *  - `shingle_posting(ARRAY<STRING>, INT)` — table function (Generator),
  *    one `(shingle, n_shingles)` row per distinct shingle;
  *  - `entropy_qsum(ARRAY<STRING>) -> BIGINT` (one-pass quantized
  *    entropy numerator, see EntropyQsum);
  *  - `adc_sum(ARRAY<BIGINT>, ARRAY<BIGINT>, INT) -> BIGINT` (PQ
  *    asymmetric-distance lookup-sum, see AdcSum);
  *  - `topk_min(BIGINT, BIGINT, INT) -> ARRAY<STRUCT<score,id>>`
  *    (bounded top-k aggregate, O(k) state with map-side partials,
  *    see TopKMin);
  *  - `hll_det(BIGINT) -> ARRAY<INT>` (deterministic HyperLogLog
  *    registers over 32-bit hashes — fixed 256-byte state, oracle-
  *    verifiable estimate, see HllDet);
  *  - `normalized_tokens(STRING) -> ARRAY<STRING>` (the reference
  *    tokenizer in one byte pass, see NormalizedTokens);
  *  - `h32(STRING) -> BIGINT` and `h60(STRING) -> BIGINT` (portable
  *    md5-prefix hashes, see H32);
  *  - the optimizer rule [[FuseTokenCount]] and the planner strategy
  *    [[TokenCountsStrategy]]: word count over `normalized_tokens` runs
  *    as one map-side operator, TokenCountsExec.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => FuseTokenCount)
    ext.injectPlannerStrategy(_ => TokenCountsStrategy)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** Wrap a builder with an arity gate so `SELECT cosine_sim(a)` fails at
    * analysis with a clear message, not IndexOutOfBounds inside the
    * builder. (Input TYPES are validated by each expression's
    * checkInputDataTypes.) */
  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    children => {
      if (children.length != n) throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${children.length}")
      b(children)
    }

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"), CosineSimilarity.info,
      arity("cosine_sim", 2)(c => CosineSimilarity(c(0), c(1)))),
    (FunctionIdentifier("sorted_intersect_count"), SortedIntersectCount.info,
      arity("sorted_intersect_count", 2)(c => SortedIntersectCount(c(0), c(1)))),
    (FunctionIdentifier("simhash32"), SimHash32.info,
      arity("simhash32", 1)(c => SimHash32(c(0)))),
    (FunctionIdentifier("argmin_cell"), ArgMinCell.info,
      arity("argmin_cell", 2)(c => ArgMinCell(c(0), c(1)))),
    (FunctionIdentifier("shingle_posting"), ShinglePosting.info,
      arity("shingle_posting", 2)(c => ShinglePosting(c(0), c(1)))),
    (FunctionIdentifier("entropy_qsum"), EntropyQsum.info,
      arity("entropy_qsum", 1)(c => EntropyQsum(c(0)))),
    (FunctionIdentifier("adc_sum"), AdcSum.info,
      arity("adc_sum", 3)(c => AdcSum(c(0), c(1), c(2)))),
    (FunctionIdentifier("topk_min"), TopKMin.info,
      arity("topk_min", 3)(c => TopKMin(c(0), c(1), c(2)))),
    (FunctionIdentifier("hll_det"), HllDet.info,
      arity("hll_det", 1)(c => HllDet(c(0)))),
    (FunctionIdentifier("normalized_tokens"), NormalizedTokens.info,
      arity("normalized_tokens", 1)(c => NormalizedTokens(c(0)))),
    (FunctionIdentifier("h32"), H32.info,
      arity("h32", 1)(c => H32(c(0)))),
    (FunctionIdentifier("h60"), H60.info,
      arity("h60", 1)(c => H60(c(0)))),
  )

  /** Install the same functions, rule and strategy on an already-built
    * session (for hosts that didn't pass `spark.sql.extensions` at build
    * time). Idempotent: a second call adds nothing. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    registrations.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, info, builder)
    }
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(FuseTokenCount))
      exp.extraOptimizations = exp.extraOptimizations :+ FuseTokenCount
    if (!exp.extraStrategies.contains(TokenCountsStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TokenCountsStrategy
  }
}
