package graft

import org.apache.spark.sql.functions._
import graft.queries.Multimodal
import graft.queries.Multimodal.{MediaRecord, MediaFeatures}

/** M7 — the rows-only parts of the multimodal tier get their real check
  * here: the batched extractor's output is re-derived independently in
  * plain Scala and compared record-for-record. */
class MultimodalSpec extends SparkSpec {

  test("feature extractor matches an independent byte-level recomputation") {
    val feats = Multimodal.qMediaFeatures(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_bytes"), r.getAs[Double]("mean_byte"), r.getAs[String]("hist_csv"))))
      .toMap
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(feats.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      // the VARCHAR oracle's validity precondition: pure-ASCII carrier,
      // so DuckDB's per-char ascii() sees exactly the byte stream
      assert(bytes.length == text.length, s"doc $id non-ASCII carrier")
      val hist = new Array[Long](8)
      bytes.foreach(b => hist((b & 0xFF) >> 5) += 1)
      val mean = math.round(bytes.map(_ & 0xFF).map(_.toLong).sum.toDouble / bytes.length * 1e6) / 1e6
      val (n, m, h) = feats(id)
      assert(n == bytes.length, s"doc $id n_bytes")
      assert(m == mean, s"doc $id mean_byte")
      assert(h == hist.mkString(","), s"doc $id histogram")
    }
  }

  test("extractor is iterator-disciplined and batch-shaped (no partition materialization)") {
    import spark.implicits._
    // a partition larger than one decode batch still streams through
    val recs = (1L to 200L).map(i =>
      MediaRecord(i, "image", Array.fill(8)((i % 251).toByte))).toDS().repartition(2)
    val out = Multimodal.extractFeatures(recs).collect()
    assert(out.length == 200)
    assert(out.forall(_.n_bytes == 8))
  }

  test("frame sampling yields ceil(len/64) digests per doc, idx dense from 0") {
    val rows = Multimodal.qFrameSample(spark, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("n"), min("frame_idx").as("lo"),
        max("frame_idx").as("hi")).collect()
    val lens = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("len")).toMap
    rows.foreach { r =>
      val want = (lens(r.getAs[Long]("doc_id")) - 1) / 64 + 1
      assert(r.getAs[Long]("n") == want)
      assert(r.getAs[Int]("lo") == 0 && r.getAs[Int]("hi") == want - 1)
    }
  }

  test("media aHash dedup: band join equals all-pairs hamming; byte-identical clone scores 0") {
    val d = "/root/testdata/sf0.01"
    val got = Multimodal.qMediaDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.nonEmpty, "expected near-dup media pairs at sf0.01")
    // independent Scala aHash + brute-force all-pairs: the pigeonhole band
    // join must be COMPLETE within the radius, not just sound
    val texts = graft.io.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).filter(_._2.nonEmpty)
    def ahash(t: String): Long = {
      val n = t.length
      val sm = (0 until 32).map(i => t.charAt(i * n / 32).toInt)
      val tot = sm.sum
      sm.zipWithIndex.map { case (s, i) => if (s * 32 > tot) 1L << i else 0L }.sum
    }
    val hs = texts.map { case (id, t) => id -> ahash(t) }
    val brute = (for {
      i <- hs.indices; j <- i + 1 until hs.length
      h = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) if h <= 3
      (a, b) = if (hs(i)._1 < hs(j)._1) (hs(i)._1, hs(j)._1) else (hs(j)._1, hs(i)._1)
    } yield (a, b, h)).toSet
    assert(got == brute, s"band join != brute force (${got.size} vs ${brute.size})")
    // a byte-identical clone must land at hamming 0 (the content-clone
    // contract): run the query over a crafted two-doc corpus
    import spark.implicits._
    val dir = tempDir("mediadedup")
    Seq((0L, "the same exact media payload bytes", "en", "synth", 34L),
        (1L, "the same exact media payload bytes", "en", "synth", 34L),
        (2L, "completely different other content here", "en", "synth", 39L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val clone = Multimodal.qMediaDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(clone.contains((0L, 1L, 0)), s"clone pair not at hamming 0: ${clone.toSeq}")
  }
}
