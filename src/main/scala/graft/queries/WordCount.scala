package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TextPipeline
import graft.io.Tables

/** M1 — the reference's entire query surface, Spark-first.
  *
  * The reference (`/root/reference/maprdeuce.cpp`) answers exactly one query:
  * word count over a line-oriented text file, globally sorted by word, plus
  * the distinct-word scalar (`maprdeuce.cpp:1403-1427`). Here the "lines" are
  * rows of the `documents.text` fixture column, so the DuckDB oracle can see
  * the same input (FIXTURES.md §B note).
  *
  * Physical plan this lowers to (verified via `.explain("formatted")`):
  * parquet scan (only `text` read) → TokenCountsExec →
  * HashAggregate(Partial) → Exchange hashpartitioning(word) →
  * HashAggregate(Final) → Exchange rangepartitioning(word) → Sort. The
  * reference's "middle reduce" combiner (`maprdeuce.cpp:706-711`) lives in
  * TokenCountsExec: the optimizer rule graft.plans.FuseTokenCount replaces
  * the explode-then-count pair with one map-side operator that tokenizes
  * each line in place and emits one `(word, partial count)` row per
  * distinct word; the partial aggregate above it only sums those partials.
  * The range-partitioned sort IS the reference's cascade external merge
  * (`maprdeuce.cpp:334-426`), spill-safe at 100 TB (UnsafeExternalSorter),
  * and the map-side combine means shuffle volume is O(distinct words per
  * partition), not O(tokens).
  */
object WordCount {

  private def words(s: SparkSession, dir: String): DataFrame =
    TextPipeline.words(Tables.documents(s, dir), "text")

  /** Word frequency, ascending by word — the reference's flagship output. */
  def wordcount(s: SparkSession, dir: String): DataFrame =
    words(s, dir).groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")

  /** COUNT(DISTINCT word) — the reference's "고유키 개수" scalar
    * (`maprdeuce.cpp:1420-1424`). Exact; at 100 TB this is a two-stage
    * partial/final distinct aggregate, still shuffle-bounded by distinct
    * cardinality (swap for approx_count_distinct if ±2% acceptable). */
  def wordcountDistinct(s: SparkSession, dir: String): DataFrame =
    words(s, dir).agg(countDistinct(col("word")).as("n_words"))

  /** Top-100 words by count — TakeOrderedAndProjectExec: each partition
    * keeps only its local top-k, the driver merges k·p rows, no global sort. */
  def wordcountTopK(s: SparkSession, dir: String): DataFrame =
    wordcount(s, dir).orderBy(col("cnt").desc, col("word").asc).limit(100)

  private val wordsFrom =
    s"""(SELECT ${TextPipeline.duckNormalize("t")} AS word
       | FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       | WHERE ${TextPipeline.duckNormalize("t")} <> '') w""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount" -> (wordcount _),
    "wordcount_distinct" -> (wordcountDistinct _),
    "wordcount_topk" -> (wordcountTopK _),
  )

  val oracle: Map[String, String] = Map(
    "wordcount" ->
      s"SELECT word, count(*) AS cnt FROM $wordsFrom GROUP BY word ORDER BY word",
    "wordcount_distinct" ->
      s"SELECT count(DISTINCT word) AS n_words FROM $wordsFrom",
    "wordcount_topk" ->
      s"""SELECT word, count(*) AS cnt FROM $wordsFrom GROUP BY word
         | ORDER BY cnt DESC, word ASC LIMIT 100""".stripMargin,
  )
}
