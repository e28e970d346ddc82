package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Sources/sinks coverage (SURVEY.md §2.2 scans/sources/sinks): the
  * reference reads one text format and writes one text format; the Spark
  * engine gets text/csv/json/parquet read+write for free via
  * DataFrameReader/Writer — these round-trips pin that surface, including
  * the reference's own "word count" text-output shape. */
class SourcesSpec extends SparkSpec {

  test("text source: reference input file reads line-per-row (reference scan semantics)") {
    val lines = spark.read.textFile("/root/reference/input_file/input.txt")
    // 26 records: the final line has no trailing newline (wc -l says 25,
    // awk/Spark correctly count 26)
    assert(lines.count() == 26)
    // the reference's whole pipeline over its own fixture file:
    val wc = graft.core.TextPipeline.words(lines.toDF("text").select(col("text")), "text")
      .groupBy("word").count().orderBy("word")
    assert(wc.count() > 0)
  }

  test("csv sink/source round-trip preserves schema and rows") {
    val out = tempDir("graft_csv")
    val src = Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    src.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert(back.count() == src.count())
    assert(back.columns.sorted.sameElements(src.columns.sorted))
    val sumA = src.agg(sum(col("c_acctbal").cast("decimal(18,2)"))).collect()(0).getDecimal(0)
    val sumB = back.agg(sum(col("c_acctbal").cast("decimal(18,2)"))).collect()(0).getDecimal(0)
    assert(sumA == sumB)
  }

  test("json sink/source round-trip preserves nested props") {
    val out = tempDir("graft_json")
    val src = Tables.events(spark, sf).limit(500)
      .select(col("event_id"), col("event_type"), col("value"), col("props"))
    src.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() == src.count())
    // JSON text column survives byte-for-byte (checked via parsed key)
    val a = src.select(sum(get_json_object(col("props"), "$.k").cast("long"))).collect()(0).getLong(0)
    val b = back.select(sum(get_json_object(col("props"), "$.k").cast("long"))).collect()(0).getLong(0)
    assert(a == b)
  }

  test("orc sink/source round-trip preserves schema and exact values") {
    val out = tempDir("graft_orc")
    val src = Tables.orders(spark, sf)
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    val sumA = src.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).collect()(0).getDecimal(0)
    val sumB = back.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).collect()(0).getDecimal(0)
    assert(sumA == sumB)
  }

  test("malformed ingestion: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_badjson")
    Files.writeString(java.nio.file.Paths.get(dir, "part-0.json"),
      """{"id": 1, "name": "ok-one"}
        |{"id": 2, "name": "ok-two"}
        |{"id": oops not json
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("_corrupt_record", StringType)))
    // PERMISSIVE (the 100 TB ingestion default): bad line lands in the
    // corrupt-record column, good rows parse — one crawler artifact must
    // not kill a million-file scan
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    try {
      assert(permissive.count() == 3)
      assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(permissive.filter(col("id").isNotNull).count() == 2)
      // DROPMALFORMED: quarantine-by-omission
      val dropped = spark.read
        .schema(StructType(schema.fields.filterNot(_.name == "_corrupt_record")))
        .option("mode", "DROPMALFORMED").json(dir)
      assert(dropped.count() == 2)
      // FAILFAST: strict pipelines surface the corruption as an error
      val t = intercept[Exception] {
        spark.read
          .schema(StructType(schema.fields.filterNot(_.name == "_corrupt_record")))
          .option("mode", "FAILFAST").json(dir).collect()
      }
      val msgs = Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
      assert(msgs.contains("FAILFAST") || msgs.contains("MALFORMED"), s"got: $msgs")
    } finally permissive.unpersist()
  }

  test("parquet sink preserves types exactly (timestamps, doubles, arrays)") {
    val out = tempDir("graft_parquet")
    val src = Tables.embeddings(spark, sf)
    src.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
  }

  test("reference result-file shape: 'word count' text lines, sorted") {
    val out = tempDir("graft_wcout")
    val wc = graft.queries.WordCount.wordcount(spark, sf)
    wc.select(concat_ws(" ", col("word"), col("cnt"))).coalesce(1)
      .write.mode("overwrite").text(out)
    val back = spark.read.textFile(out).collect()
    assert(back.length == wc.count())
    val words = back.map(_.split(" ")(0))
    assert(words.sameElements(words.sorted), "text output must stay word-sorted")
  }

  test("binaryFile source: media blobs ingest with exact bytes and glob pruning") {
    // the raw-media ingestion path for the Multimodal tier: opaque files →
    // (path, modificationTime, length, content) rows, bytes never parsed
    val dir = tempDir("graft_bin")
    val blobs = Map(
      "a.img" -> Array[Byte](1, 2, 3, 0, -1),
      "b.img" -> Array[Byte](9, 8, 7),
      "c.wav" -> "RIFFdata".getBytes("UTF-8"))
    blobs.foreach { case (name, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    val all = spark.read.format("binaryFile").load(dir)
    assert(all.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val got = all.select(col("path"), col("length"), col("content")).collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getLong(1), r.getAs[Array[Byte]](2))).toMap
    assert(got.keySet == blobs.keySet)
    blobs.foreach { case (name, bytes) =>
      assert(got(name)._1 == bytes.length.toLong, s"$name length")
      assert(got(name)._2.sameElements(bytes), s"$name content bytes differ")
    }
    // pathGlobFilter prunes non-matching files at LISTING time (the
    // 100 TB media-lake pattern: partition/glob pruning before any read)
    val imgs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img").load(dir)
    assert(imgs.count() == 2)
    // and the binary column feeds the standard digest pipeline unchanged
    val digests = imgs.select(md5(col("content")).as("d")).collect().map(_.getString(0))
    assert(digests.toSet.size == 2, "distinct blobs must digest distinctly")
  }

  test("small-file compaction: 64 shards -> 4 files, content checksum preserved") {
    // The nightly-compaction job every streaming/hourly-ingest lake needs:
    // thousands of small files (one per micro-batch) re-written as few
    // large ones. Order-free content checksum (sum over row h32s) proves
    // the rewrite lossless; at 100 TB the same job runs per partition with
    // maxRecordsPerFile instead of a repartition count.
    val base = tempDir("graft_compact")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    def checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.select(graft.core.TextPipeline.h32(
          concat_ws("|", col("doc_id"), col("lang"), col("text"))).as("h"))
        .agg(sum(col("h"))).collect()(0).getLong(0)
    docs.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val nSmall = parts(s"$base/small")
    assert(nSmall == 64, s"expected 64 small files, got $nSmall")
    // the compactor: read the fragmented layout, coalesce, rewrite
    spark.read.parquet(s"$base/small")
      .repartition(4).write.mode("overwrite").parquet(s"$base/compact")
    assert(parts(s"$base/compact") == 4, "compaction must produce 4 files")
    val (a, b) = (checksum(docs), checksum(spark.read.parquet(s"$base/compact")))
    assert(a == b, "compaction changed the data")
    // fewer, larger files also means fewer scan tasks at the same
    // maxPartitionBytes — the actual point of compacting
    assert(spark.read.parquet(s"$base/compact").rdd.getNumPartitions <=
      spark.read.parquet(s"$base/small").rdd.getNumPartitions)
  }
}
