package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TextPipeline
import graft.io.Tables

/** One timed call: `build` is the library's construct step (eager
  * checkpoints included), `sink` executes the plan. `cold` marks the
  * first call of an operation on a fresh input. */
final case class Op(name: String, cold: Boolean,
                    build: SparkSession => DataFrame, sink: DataFrame => Unit)

/** One checked output: `write` stores it as `out`, a directory under the
  * check directory. It must equal the DuckDB result of the oracle SQL of
  * registry query `oracle`; without one, it is checked against the word
  * counts the corpus generator recorded. */
final case class Check(out: String, oracle: Option[String], write: () => Unit)

/** A workload: what one set-up cycle warms, what one timed pass runs, and
  * which outputs the correctness check reads. */
trait Workload {
  def name: String
  /** Typical pass length on a 4-core machine: a run makes
    * round(seconds / passSeconds) passes, so the pass count does not
    * depend on timing noise. */
  def passSeconds: Double
  /** Untimed operations that end each set-up cycle. */
  def warmup(spark: SparkSession): Unit
  /** Operations of timed pass `pass`, in execution order. */
  def pass(pass: Int): Seq[Op]
  /** True when every pass runs on fresh inputs (so every pass has cold calls). */
  def freshInputs: Boolean = false
  /** The outputs the correctness check reads, written under `outDir` by
    * the first call of each operation on its input. */
  def checks(spark: SparkSession, outDir: String): Seq[Check]
  /** The workload's raw inputs, for the `io.scan_s` probe. */
  def scans(spark: SparkSession): Seq[DataFrame]
  /** The workload's text input and its column, for the tokenizer probes. */
  def text(spark: SparkSession): (DataFrame, String)
  /** Bytes of input behind `throughput_mb_s`. */
  def inputBytes: Long
  /** Operation whose median time `throughput_mb_s` divides by (None: the pass). */
  def throughputOp: Option[String] = None
}

object Workloads {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private lazy val registry = graft.SparkEntry.queries

  def query(name: String): (SparkSession, String) => DataFrame =
    registry.getOrElse(name, throw new NoSuchElementException(s"$name is not in SparkEntry.queries"))

  val FixtureTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Sub-second registry queries, one or two per tier. */
  val TailQueries = Seq(
    "q1_pricing_summary", "q_token_counts", "q_lang_id", "q_sessionize", "q_pivot",
    "q_stream_tumbling", "q_multi_distinct", "q_json_ingest", "q_media_features",
    "wordcount_distinct")

  /** Persisted-index lifecycle queries: the first call on a directory
    * builds and writes its index, the second probes the persisted one. */
  val IndexQueries = Seq("q_bloom_incremental", "q_merge_compact")

  def apply(name: String, seed: Long, fixture: String, corpus: String,
            warmCorpus: String, work: String): Workload = {
    def seeded(names: Seq[String]) = new scala.util.Random(seed).shuffle(names.sorted)
    name match {
      case "wc_text" => new WcText(corpus, warmCorpus, work)
      case "tail_panel" => new TailPanel(seeded(TailQueries), fixture)
      case "index_rw" => new IndexRw(seeded(IndexQueries), fixture, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def writeParquet(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(out)

  /** Registry queries over the fixture directory `dir`, warmed by a
    * scan+aggregate+sort plan and a join+window plan. */
  abstract class FixtureWorkload(dir: String) extends Workload {
    def warmup(spark: SparkSession): Unit =
      Seq("wordcount", "q_topk_orders").foreach(q => noop(query(q)(spark, dir)))
    def scans(spark: SparkSession): Seq[DataFrame] =
      FixtureTables.map(t => Tables.load(spark, dir, t))
    def text(spark: SparkSession): (DataFrame, String) = (Tables.documents(spark, dir), "text")
    lazy val inputBytes: Long =
      FixtureTables.map(t => Files.size(Paths.get(s"$dir/$t.parquet"))).sum
  }

  final class TailPanel(order: Seq[String], dir: String) extends FixtureWorkload(dir) {
    val name = "tail_panel"
    val passSeconds = 3.5
    def pass(p: Int): Seq[Op] = order.map(q => Op(q, cold = false, s => query(q)(s, dir), noop))
    def checks(spark: SparkSession, out: String): Seq[Check] =
      order.map(q => Check(q, Some(q), () => writeParquet(query(q)(spark, dir), s"$out/$q")))
  }

  /** The persisted-index queries, each called twice per pass against a
    * fresh symlink alias of the fixture directory. */
  final class IndexRw(order: Seq[String], dir: String, work: String)
      extends FixtureWorkload(dir) {
    val name = "index_rw"
    val passSeconds = 3.5
    override def freshInputs: Boolean = true
    private def alias(tag: String): String = {
      val a = Paths.get(s"$work/alias/$tag")
      Files.createDirectories(a.getParent)
      if (!Files.exists(a)) Files.createSymbolicLink(a, Paths.get(dir).toAbsolutePath)
      a.toString
    }
    def pass(p: Int): Seq[Op] = {
      val d = alias(s"p$p")
      order.flatMap(q => Seq(Op(s"$q/cold", cold = true, s => query(q)(s, d), noop),
                             Op(s"$q/warm", cold = false, s => query(q)(s, d), noop)))
    }
    def checks(spark: SparkSession, out: String): Seq[Check] = {
      val d = alias("check")
      order.flatMap(q => Seq("cold", "warm").map(call =>
        Check(s"$q@$call", Some(q), () => writeParquet(query(q)(spark, d), s"$out/$q@$call"))))
    }
  }

  /** The reference's word count over a generated text corpus: the
    * `wordcount` plan over `spark.read.text`, its result written as
    * `word count` lines like the reference's output file, then the
    * distinct-word count. */
  final class WcText(corpus: String, warmCorpus: String, work: String) extends Workload {
    val name = "wc_text"
    val passSeconds = 1.5
    private def words(s: SparkSession, path: String): DataFrame =
      TextPipeline.words(s.read.text(path), "value")
    private def wordcount(s: SparkSession, path: String): DataFrame =
      words(s, path).groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")
    private def distinct(s: SparkSession, path: String): DataFrame =
      words(s, path).agg(countDistinct(col("word")).as("n_words"))
    private def writeLines(out: String)(df: DataFrame): Unit =
      df.select(concat_ws(" ", col("word"), col("cnt").cast("string")))
        .write.mode("overwrite").text(out)
    def warmup(spark: SparkSession): Unit = {
      writeLines(s"$work/wc_warm")(wordcount(spark, warmCorpus))
      noop(distinct(spark, warmCorpus))
    }
    def pass(p: Int): Seq[Op] = Seq(
      Op("wordcount", cold = false, s => wordcount(s, corpus), writeLines(s"$work/wc_out")),
      Op("wordcount_distinct", cold = false, s => distinct(s, corpus), noop))
    def checks(spark: SparkSession, out: String): Seq[Check] = Seq(
      Check("wc_out", None, () => writeLines(s"$out/wc_out")(wordcount(spark, corpus))),
      Check("wordcount_distinct", None,
        () => writeParquet(distinct(spark, corpus), s"$out/wordcount_distinct")))
    def scans(spark: SparkSession): Seq[DataFrame] = Seq(spark.read.text(corpus))
    def text(spark: SparkSession): (DataFrame, String) = (spark.read.text(corpus), "value")
    lazy val inputBytes: Long = Files.size(Paths.get(corpus))
    override def throughputOp: Option[String] = Some("wordcount")
  }
}
