package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TextPipeline
import graft.functions.VectorFunctions
import graft.io.Tables

/** Layer probes of the traced run: each times one layer's public entry
  * point alone, to the noop sink, as the median of three calls. Kernel
  * inputs are drawn from the fixture (documents, embeddings), replicated
  * to about 100k rows and materialized before any timing. */
object Layers {
  import Workloads.noop

  private val Rows = 100000

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def med3(f: => Unit): Double = median(Seq.fill(3)(timed(f)))

  private def replicated(df: DataFrame, rows: Long): DataFrame = {
    val k = math.max(1L, (Rows + rows - 1) / rows)
    df.withColumn("_rep", explode(sequence(lit(1L), lit(k)))).drop("_rep")
  }

  // 32 fixed affine MinHash slots over the 2^31-1 prime field
  private val P = 2147483647L
  private val (hashA, hashB) = {
    val r = new scala.util.Random(7)
    (Seq.fill(32)(1L + r.nextInt(Int.MaxValue - 1)), Seq.fill(32)(r.nextInt(Int.MaxValue).toLong))
  }

  def probe(spark: SparkSession, wl: Workload, fixture: String): Map[String, Double] = {
    val scan = med3(wl.scans(spark).foreach(noop))
    val (txt, c) = wl.text(spark)
    val tokenize = med3(noop(TextPipeline.words(txt, c)))
    val tokens = TextPipeline.words(txt, c).count().toDouble
    val normalized = med3(noop(txt.select(TextPipeline.normalizedTokens(col(c)))))

    val docs0 = Tables.documents(spark, fixture)
    val docs = replicated(docs0, docs0.count())
      .select(TextPipeline.normalizedTokens(col("text")).as("toks"))
      .select(col("toks"), array_sort(TextPipeline.shinglesOf(col("toks"))).as("sh"))
      .select(col("toks"), col("sh"),
        slice(col("sh"), lit(1), greatest((size(col("sh")) / 2).cast("int"), lit(1))).as("half"),
        transform(col("sh"), s => TextPipeline.h32(s) % P).as("hs"))
      .localCheckpoint()
    val words = docs.select(explode(col("toks")).as("word")).localCheckpoint()
    val h32 = med3(noop(words.select(TextPipeline.h32(col("word")))))
    val minhash = med3(noop(docs.select(VectorFunctions.minhashSignature(col("hs"), hashA, hashB, P))))
    val intersect = med3(noop(docs.select(
      VectorFunctions.sortedIntersectCount(col("sh"), col("half")))))
    val emb0 = Tables.embeddings(spark, fixture)
    val emb = replicated(emb0, emb0.count())
      .select(col("embedding").cast("array<double>").as("e"))
      .select(col("e"), reverse(col("e")).as("f"))
      .localCheckpoint()
    val cosine = med3(noop(emb.select(VectorFunctions.cosineSim(col("e"), col("f")))))
    Map(
      "io.scan_s" -> scan,
      "textpipeline.tokenize_s" -> tokenize,
      "textpipeline.tokens" -> tokens,
      "textpipeline.tokens_per_s" -> tokens / tokenize,
      "plans.normalized_tokens_s" -> normalized,
      "plans.h32_s" -> h32,
      "plans.minhash_signature_s" -> minhash,
      "plans.sorted_intersect_count_s" -> intersect,
      "plans.cosine_sim_s" -> cosine)
  }
}
