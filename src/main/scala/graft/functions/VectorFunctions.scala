package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import graft.plans.{CosineSimilarity, SortedIntersectCount}

/** Column-level façade over the engine's native Catalyst expressions
  * (graft.plans). Uses the public `ExpressionUtils.column` bridge so the
  * kernels work in ANY session; `GraftExtensions` additionally registers
  * them by name for `spark.sql(...)` users.
  */
object VectorFunctions {

  /** Fused cosine similarity over two ARRAY<DOUBLE> columns (one loop,
    * codegen; replaces a 6-pass zip_with/aggregate chain). */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** |A∩B| of two sorted distinct ARRAY<STRING> columns (merge scan,
    * codegen; replaces per-pair array_intersect hash sets). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Nearest-centroid assignment: argmin squared-L2 of an ARRAY<DOUBLE>
    * vector over an ARRAY<STRUCT<cell BIGINT, cv ARRAY<DOUBLE>>> centroid
    * table, ties to the lowest cell (one nested loop, codegen; replaces
    * the interpreted array_min/transform/zip_with/aggregate chain). */
  def argMinCell(v: Column, cells: Column): Column =
    ExpressionUtils.column(graft.plans.ArgMinCell(
      ExpressionUtils.expression(v), ExpressionUtils.expression(cells)))

  /** 32-bit SimHash fingerprint of an ARRAY<BIGINT> of token hashes
    * (single pass, codegen; replaces 32 interpreted per-bit scans). */
  def simhash32(hs: Column): Column =
    ExpressionUtils.column(graft.plans.SimHash32(ExpressionUtils.expression(hs)))

  /** Full MinHash signature (one pass over the hash array; replaces
    * |slots| interpreted array walks). Constants are baked into the plan. */
  def minhashSignature(hs: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    ExpressionUtils.column(graft.plans.MinHashSignature(
      ExpressionUtils.expression(hs), a, b, p))

  /** Table function (Generator): one `(shingle, n_shingles)` row per
    * distinct width-word shingle of a token array — the fused form of
    * `explode(array_distinct(<windows>))` + a carried distinct count.
    * Use in `select`: the analyzer plans it as a `Generate`. */
  def shinglePosting(tokens: Column, width: Int): Column =
    ExpressionUtils.column(graft.plans.ShinglePosting(
      ExpressionUtils.expression(tokens),
      org.apache.spark.sql.catalyst.expressions.Literal(width)))

  /** PQ asymmetric-distance lookup-sum Σ_m tab[m·stride + codes[m]] over
    * a flattened per-query distance table (one codegen loop; replaces the
    * interpreted aggregate/zip_with/element_at-map fold — see
    * graft.plans.AdcSum). */
  def adcSum(codes: Column, tab: Column, stride: Int): Column =
    ExpressionUtils.column(graft.plans.AdcSum(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(tab),
      org.apache.spark.sql.catalyst.expressions.Literal(stride)))

  /** Bounded top-k aggregate: the k lexicographically smallest
    * (score, id) pairs as a sorted ARRAY<STRUCT<score, id>> — O(k)
    * aggregation state with map-side partial aggregation, the scale-safe
    * replacement for a per-group `row_number()` window (which ships the
    * whole group to one reducer partition). NULL inputs THROW — see
    * graft.plans.TopKMin. */
  def topkMin(score: Column, id: Column, k: Int): Column = {
    val agg = graft.plans.TopKMin(
      ExpressionUtils.expression(score), ExpressionUtils.expression(id),
      org.apache.spark.sql.catalyst.expressions.Literal(k))
    ExpressionUtils.column(agg.toAggregateExpression())
  }

  /** Deterministic HyperLogLog register aggregate over 32-bit hashes
    * (TextPipeline.h32 discipline): ARRAY<INT> of 256 max-rank
    * registers — fixed 256-byte state, map-side partials, and (unlike
    * approx_count_distinct) a pure function of the data, so the
    * estimate built from it ([[graft.plans.HllDet.estimate]]) is
    * oracle-verifiable. NULL hashes ignored; out-of-range hashes
    * THROW — see graft.plans.HllDet. */
  def hllDet(hash: Column): Column = {
    val agg = graft.plans.HllDet(ExpressionUtils.expression(hash))
    ExpressionUtils.column(agg.toAggregateExpression())
  }

  /** Reference-tokenizer normalized token array of a STRING column
    * (split on the single space, [a-zA-Z] only, ASCII-lowercased,
    * empties dropped) as one fused byte pass — see
    * graft.plans.NormalizedTokens for the byte-equivalence argument
    * against the composed split/regexp/lower/filter form. */
  def normalizedTokens(text: Column): Column =
    ExpressionUtils.column(graft.plans.NormalizedTokens(
      ExpressionUtils.expression(text)))

  /** Portable 32-bit base hash of a STRING column — first 4 md5 digest
    * bytes as unsigned BIGINT, one digest call (bit-equivalence argument
    * against the conv/substring/md5 chain: graft.plans.H32). */
  def h32(c: Column): Column =
    ExpressionUtils.column(graft.plans.H32(ExpressionUtils.expression(c)))

  /** 60-bit sibling of [[h32]] — first 15 md5 hex chars as unsigned
    * BIGINT, one digest call (graft.plans.H60). */
  def h60(c: Column): Column =
    ExpressionUtils.column(graft.plans.H60(ExpressionUtils.expression(c)))

  /** Quantized Shannon-entropy numerator Σ round(c·log2(c)·1e6) over an
    * ARRAY<STRING>'s term frequencies (one hash-count pass, codegen;
    * replaces both the corpus-shuffling explode/groupBy spelling and the
    * interpreted aggregate-HOF run scan — see graft.plans.EntropyQsum). */
  def entropyQsum(tokens: Column): Column =
    ExpressionUtils.column(graft.plans.EntropyQsum(
      ExpressionUtils.expression(tokens)))
}
