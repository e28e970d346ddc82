package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference engine's tokenizer/normalizer semantics, in ONE place.
  *
  * Faithful to `/root/reference/maprdeuce.cpp` (cited per SURVEY.md §2.3):
  *  - tokens are produced by splitting on the SINGLE space character
  *    (`maprdeuce.cpp:224` uses `getline(iss, buffer, ' ')`), NOT general
  *    whitespace — a tab stays inside its token;
  *  - normalization keeps `[a-zA-Z]` only and ASCII-lowercases
  *    (`maprdeuce.cpp:204-215`): digits/punctuation/non-ASCII vanish;
  *  - empty tokens (consecutive spaces, digit-only, punctuation-only) are
  *    dropped (`maprdeuce.cpp:242`).
  *
  * The tokenizer runs as one native Catalyst expression,
  * `normalized_tokens` (graft.plans.NormalizedTokens): one byte pass inside
  * whole-stage codegen, not a UDF. A word count over [[words]] (group by
  * `word`, count) is rewritten by the optimizer rule
  * graft.plans.FuseTokenCount into one map-side operator, TokenCountsExec,
  * that runs the same byte loop and counts as it goes.
  */
object TextPipeline {

  /** One row per normalized non-empty word of `textCol`.
    * Output: single column `word`. Other input columns are dropped unless
    * listed in `keep`. (Explodes [[normalizedTokens]], so the fused
    * kernel serves the row form too; the kernel never emits empties, so
    * no trailing filter is needed.)
    */
  def words(df: DataFrame, textCol: String, keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    df.select(kept :+ explode(normalizedTokens(col(textCol))).as("word"): _*)
  }

  /** Normalized non-empty token ARRAY of a text column — the array-form
    * twin of [[words]]; the per-document projection Dedup / TextAnalysis /
    * Corpus share. Fused native kernel (r15, guide §1.2 step 2): ONE
    * byte-level codegen pass replacing the composed
    * `filter(transform(split, lower∘regexp_replace), ≠"")` chain — three
    * interpreted HOF lambdas and a per-token regex engine on the hottest
    * expression in the suite (~60 queries tokenize, most more than
    * once). Byte-equivalence argument: graft.plans.NormalizedTokens. */
  def normalizedTokens(text: Column): Column =
    graft.functions.VectorFunctions.normalizedTokens(text)

  /** [[normalizedTokens]] of the `text` column — the token array every
    * `documents` query starts from. */
  val toks: Column = normalizedTokens(col("text"))

  /** Exact-dedup fingerprint of a token array: md5 of the tokens joined
    * by single spaces. Two documents get the same fingerprint iff their
    * normalized token streams are equal (tokens never contain a space). */
  def exactFingerprint(w: Column): Column = md5(concat_ws(" ", w))

  /** DuckDB spelling of the same per-token normalization, for oracle SQL. */
  val duckNormalize: String => String =
    t => s"lower(regexp_replace($t, '[^a-zA-Z]', '', 'g'))"

  /** DuckDB spelling of [[normalizedTokens]] over the `text` column (the
    * oracle-side tokenizer, defined ONCE so the §2.3 tokenizer contract
    * can't drift between query files). */
  val duckToks: String =
    "list_filter(list_transform(string_split(text, ' '), " +
      "t -> lower(regexp_replace(t, '[^a-zA-Z]', '', 'g'))), x -> x <> '')"

  /** Non-distinct word-BIGRAM array over a token array `w` — the 2-gram
    * twin of [[trigrams]] (same zip_with-over-shifted-slice mechanics:
    * O(tokens), null-padded tail filtered, <2-token arrays yield empty).
    * ONE spelling for every bigram consumer (top-bigram ranking, the
    * bigram LM, the CMS key stream) so the pairing contract can't
    * drift between tiers. */
  def bigrams(w: Column): Column =
    filter(
      zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y)),
      t => t.isNotNull)

  /** DuckDB spelling of [[bigrams]] over a token-list expression `w` —
    * the oracle-side twin, defined once like [[duckToks]]. */
  def duckBigrams(w: String): String =
    s"list_transform(($w)[1:len($w)-1], (x, i) -> x || ' ' || ($w)[i+1])"

  /** Non-distinct word-trigram array over a token array `w` (the 3-shingle
    * stream before dedup — repetition scoring needs the multiplicity).
    * zip_with formulation, NOT element_at-over-sequence: inlining the
    * token pipeline into an element_at body re-derives the array PER
    * ELEMENT — O(tokens²) interpreted regex work (measured 70× at sf0.1).
    * zip_with references `w` O(1) times. zip_with pads the shorter side
    * with null and concat(null) propagates, so trailing pads drop in the
    * filter. */
  def trigrams(w: Column): Column = {
    val tri = zip_with(
      zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y)),
      slice(w, lit(3), greatest(size(w) - 2, lit(0))),
      (xy, z) => concat(xy, lit(" "), z))
    filter(tri, t => t.isNotNull)
  }

  /** Distinct 3-shingle SET of a token array — the dedup-side projection
    * (MinHash, Jaccard, fingerprint families). */
  def shinglesOf(w: Column): Column = array_distinct(trigrams(w))

  /** DuckDB spelling of [[trigrams]] over a token-list expression `w`. */
  def duckTrigrams(w: String): String =
    s"""CASE WHEN len($w) >= 3
       | THEN list_transform(range(1, len($w) - 1),
       |        i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])
       | ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** DuckDB spelling of [[shinglesOf]]. */
  def duckShingles(w: String): String = s"list_distinct(${duckTrigrams(w)})"

  /** Portable 32-bit hash of a string column — first 8 hex chars of md5,
    * bit-identical in Spark and DuckDB ([[duckH32]]); the base hash under
    * MinHash, sampling, and fingerprinting. Fused native kernel (r15):
    * one md5 digest, first 4 bytes as unsigned BIGINT — replaces the
    * conv(substring(md5(c),1,8),16,10).cast(long) chain and its four
    * per-call string round-trips (graft.plans.H32 has the equivalence
    * argument; ExpressionsSpec pins it against the composed form). */
  def h32(c: Column): Column =
    graft.functions.VectorFunctions.h32(c)

  /** DuckDB spelling of [[h32]]. */
  def duckH32(e: String): String =
    s"CAST(('0x' || substring(md5($e),1,8)) AS BIGINT)"
}
