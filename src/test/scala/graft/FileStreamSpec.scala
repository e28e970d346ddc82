package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Windows

/** M5 — the full readStream → transform → writeStream path over a real
  * file source: parquet dropped into a watched directory in two batches,
  * windowed aggregation with watermark, parquet sink with checkpoint —
  * result must equal the batch plan over the union of all files. This is
  * the deployment shape (file-arrival streaming), complementing
  * StreamingSpec's MemoryStream harness. */
class FileStreamSpec extends SparkSpec {

  test("file-source streaming tumbling agg == batch over all arrived files") {
    val srcDir = tempDir("graft_stream_src")
    val outDir = tempDir("graft_stream_out")
    val ckDir = tempDir("graft_stream_ck")

    val events = graft.io.Tables.events(spark, sf)
      .select("ts", "event_type", "value")
    // split by TIME, not randomly: file-arrival streaming assumes files
    // land in rough event-time order; random interleaving would put half
    // of batch 2 behind the watermark (correctly dropped as late data)
    val mid = events.agg(expr("percentile(unix_micros(ts), 0.5)")).collect()(0).getDouble(0).toLong
    val part1 = events.filter(unix_micros(col("ts")) <= mid)
    val part2 = events.filter(unix_micros(col("ts")) > mid)

    // batch 1 arrives before the query starts
    part1.write.mode("overwrite").parquet(s"$srcDir/batch1")
    val schema = events.schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$srcDir/*")
    val q = Windows.tumblingStream(stream)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // batch 2 arrives while the query runs
    part2.write.mode("overwrite").parquet(s"$srcDir/batch2")
    q.processAllAvailable()
    q.stop()

    // append mode only emits watermark-closed windows; compare on the
    // windows the sink actually finalized (all but the tail)
    val got = spark.read.parquet(outDir)
      .select("win_start_us", "event_type", "n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Windows.tumbling(events)
      .select("win_start_us", "event_type", "n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.nonEmpty, "watermark must have closed at least some windows")
    assert(got.subsetOf(want),
      "every finalized streaming window must match the batch result exactly")
    // everything older than the last emitted window must have been emitted
    val lastEmitted = got.map(_._1).max
    val missing = want.filter(_._1 < lastEmitted) -- got
    assert(missing.isEmpty, s"gaps in emitted windows: ${missing.take(3)}")
  }

  test("foreachBatch upsert sink: duplicate redelivery converges to distinct keys") {
    import org.apache.spark.sql.{DataFrame, SaveMode}
    val tableDir = tempDir("graft_fb_tbl")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "payload").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // idempotent merge: existing ∪ batch, keep one row per id
        val existing = try spark.read.parquet(tableDir)
          catch { case _: Throwable => spark.emptyDataFrame.select(lit(0L).as("id"), lit("").as("payload")).limit(0) }
        val merged = existing.unionByName(batch).dropDuplicates("id")
          .persist() // materialize BEFORE overwriting the path we read from
        merged.count()
        merged.write.mode(SaveMode.Overwrite).parquet(tableDir)
        merged.unpersist()
        ()
      }.start()
    mem.addData(Seq((1L, "a"), (2L, "b"))); q.processAllAvailable()
    mem.addData(Seq((2L, "b"), (3L, "c"))); q.processAllAvailable() // redelivery of id=2
    mem.addData(Seq((1L, "a"), (3L, "c"), (4L, "d"))); q.processAllAvailable()
    q.stop()
    val table = spark.read.parquet(tableDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(table == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "at-least-once redelivery must converge to one row per key")
  }

  test("checkpoint recovery: restart resumes exactly-once (no double-counted windows)") {
    val srcDir = tempDir("graft_ck_src")
    val outDir = tempDir("graft_ck_out")
    val ckDir = tempDir("graft_ck_ck")
    val events = graft.io.Tables.events(spark, sf).select("ts", "event_type", "value")
    val mid = events.agg(expr("percentile(unix_micros(ts), 0.5)")).collect()(0).getDouble(0).toLong
    val schema = events.schema
    def start() = Windows.tumblingStream(
      spark.readStream.schema(schema).parquet(s"$srcDir/*"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append()).start()

    events.filter(unix_micros(col("ts")) <= mid).write.parquet(s"$srcDir/b1")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // restart from the SAME checkpoint; more files arrive
    events.filter(unix_micros(col("ts")) > mid).write.parquet(s"$srcDir/b2")
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir)
      .groupBy("win_start_us", "event_type")
      .agg(sum("n").as("n")) // would exceed batch counts if double-emitted
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Windows.tumbling(events).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getLong(3)).toMap
    got.foreach { case (k, n) =>
      assert(want.getOrElse(k, -1L) == n,
        s"window $k: streamed $n vs batch ${want.get(k)} — duplication or loss")
    }
    assert(got.nonEmpty)
  }

  test("file-source streaming probe of the persisted dedup index == q_dedup_persisted, incl. out-of-order pairs and a redelivered file") {
    val d = "/root/testdata/sf0.01"
    val srcDir = tempDir("graft_probe_src")
    val root = graft.queries.Dedup.dedupIndexDir(spark, d)
    val odd = graft.io.Tables.documents(spark, d)
      .select("doc_id", "text", "lang")
      .filter(col("doc_id") % 2 === 1)
    // the sf0.01 expectation spans the cut both ways: every verified
    // batch pair has one side <= 300 and one side > 300, and the one
    // index collision (323 vs persisted 166) arrives in batch 2 — so
    // nothing can pass by luck of co-arrival
    val part1 = odd.filter(col("doc_id") <= 300)
    val part2 = odd.filter(col("doc_id") > 300)
    part1.write.mode("overwrite").parquet(s"$srcDir/batch1")
    val stream = spark.readStream.schema(odd.schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/*")
    val q = Windows.dedupIndexProbeStream(stream.toDF(), root)
      .writeStream.format("memory").queryName("t_dedup_probe")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    def snapshot() = spark.table("t_dedup_probe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet // idempotent consumer: distinct on the row
    assert(snapshot().isEmpty,
      s"no pair is complete inside batch 1: ${snapshot()}")
    part2.write.mode("overwrite").parquet(s"$srcDir/batch2")
    q.processAllAvailable()
    val afterAll = snapshot()
    // batch 3: an entire file is REDELIVERED — the registry must not
    // re-emit different rows and the distinct snapshot must not move
    part1.write.mode("overwrite").parquet(s"$srcDir/batch3")
    q.processAllAvailable()
    val afterRedeliver = snapshot()
    q.stop()
    val want = graft.queries.Dedup.qDedupPersisted(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(afterAll == want,
      s"online probe diverged from the batch probe: extra=${afterAll -- want} missing=${want -- afterAll}")
    assert(afterRedeliver == want,
      s"redelivery moved the snapshot: ${afterRedeliver -- want}")
    assert(want.exists(_._3 == "index") && want.exists(_._3 == "batch"),
      "fixture must exercise both collision kinds")
  }

  test("dedup probe registry TTL discipline (TestGroupState): data arms the timeout, expiry frees the state, pairing stays keep-earlier") {
    import org.apache.spark.sql.streaming.TestGroupState
    val ttl = Some(java.time.Duration.ofMinutes(30))
    def posting(id: Long, hs: Seq[Long]) =
      Windows.ProbePosting("en", 42L, id, hs.length.toLong, hs.sorted)
    val shared = Seq(1L, 2L, 3L, 4L, 5L) // jaccard 1.0 between clones
    // batch 1: doc 101 arrives — registered, TTL armed, nothing to pair
    val s1 = TestGroupState.create[Seq[Windows.ProbePosting]](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out1 = Windows.dedupRegistryUpdate(ttl)(("en", 42L),
      Iterator(posting(101L, shared)), s1).toSeq
    assert(out1.isEmpty && s1.get.map(_.doc_id) == Seq(101L))
    assert(s1.getTimeoutTimestampMs.isPresent &&
      s1.getTimeoutTimestampMs.get == 1000L + ttl.get.toMillis,
      "TTL must be armed relative to batch processing time")
    // batch 2 (within the window): the clone pairs keep-earlier by id,
    // and a redelivery of 101 adds no state and no emission
    val s2 = TestGroupState.create[Seq[Windows.ProbePosting]](
      org.apache.spark.api.java.Optional.of(s1.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      2000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out2 = Windows.dedupRegistryUpdate(ttl)(("en", 42L),
      Iterator(posting(103L, shared), posting(101L, shared)), s2).toSeq
    assert(out2.map(h => (h.new_id, h.dup_of, h.kind)) == Seq((103L, 101L, "batch")),
      s"clone must pair keep-earlier once: $out2")
    assert(s2.get.map(_.doc_id) == Seq(101L, 103L))
    // timeout invocation: the idle fingerprint's postings are freed and
    // nothing is emitted — the long-running-stream bound
    val s3 = TestGroupState.create[Seq[Windows.ProbePosting]](
      org.apache.spark.api.java.Optional.of(s2.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      9999999L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val out3 = Windows.dedupRegistryUpdate(ttl)(("en", 42L),
      Iterator.empty, s3).toSeq
    assert(out3.isEmpty && s3.isRemoved,
      "expired fingerprint must free its state and emit nothing")
    // post-expiry arrival starts a FRESH window: no cross-window pair
    val s4 = TestGroupState.create[Seq[Windows.ProbePosting]](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      10000000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out4 = Windows.dedupRegistryUpdate(ttl)(("en", 42L),
      Iterator(posting(105L, shared)), s4).toSeq
    assert(out4.isEmpty && s4.get.map(_.doc_id) == Seq(105L),
      "post-expiry arrival must not pair with the forgotten window")
  }

  test("ANN probe registry TTL discipline (TestGroupState): version is monotone, expiry re-emits the final snapshot and frees state") {
    import org.apache.spark.sql.streaming.TestGroupState
    val ttl = Some(java.time.Duration.ofMinutes(30))
    val s1 = TestGroupState.create[(Long, Seq[(Long, Long)])](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val snap1 = Windows.annRegistryUpdate(2, ttl)(7L,
      Iterator(Windows.AnnCand(7L, -900L, 3L), Windows.AnnCand(7L, -800L, 4L),
        Windows.AnnCand(7L, -700L, 5L)), s1)
    assert(snap1.version == 1L && snap1.neighbor_ids == Seq(3L, 4L),
      s"bounded top-2 by negq: $snap1")
    assert(s1.getTimeoutTimestampMs.isPresent)
    // second batch improves the set and bumps the version
    val s2 = TestGroupState.create[(Long, Seq[(Long, Long)])](
      org.apache.spark.api.java.Optional.of(s1.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      2000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val snap2 = Windows.annRegistryUpdate(2, ttl)(7L,
      Iterator(Windows.AnnCand(7L, -950L, 9L)), s2)
    assert(snap2.version == 2L && snap2.neighbor_ids == Seq(9L, 3L))
    // expiry re-emits the final snapshot (same content, idempotent for a
    // max-version consumer) and frees the state
    val s3 = TestGroupState.create[(Long, Seq[(Long, Long)])](
      org.apache.spark.api.java.Optional.of(s2.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      9999999L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val snap3 = Windows.annRegistryUpdate(2, ttl)(7L, Iterator.empty, s3)
    assert(snap3.neighbor_ids == snap2.neighbor_ids && s3.isRemoved)
  }

  test("file-source streaming ANN probe of the persisted index == batch face, incl. a redelivered query file") {
    val d = "/root/testdata/sf0.01"
    val srcDir = tempDir("graft_annprobe_src")
    val (coarse, index, queries) =
      graft.queries.Similarity.annStreamParts(spark, d)
    // query vectors arrive as files: 0-4 first, 5-9 later, then file 1
    // is REDELIVERED whole — the registry's distinct must hold the
    // snapshot still
    val part1 = queries.filter(col("q_id") < 5)
    val part2 = queries.filter(col("q_id") >= 5)
    part1.write.mode("overwrite").parquet(s"$srcDir/batch1")
    val stream = spark.readStream.schema(queries.schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/*")
    val q = Windows.annProbeStream(stream.toDF(), coarse, index)
      .writeStream.format("memory").queryName("t_ann_probe")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable()
    // latest snapshot per query by the registry's own monotone version
    // counter — never by sink row order (round-12 ADVICE)
    def snapshot() = spark.table("t_ann_probe").collect()
      .map(r => (r.getLong(0),
        (r.getLong(3), (r.getSeq[Long](1), r.getSeq[Long](2)))))
      .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
    assert(snapshot().keySet == (0L until 5L).toSet,
      s"batch 1 must answer queries 0-4: ${snapshot().keySet}")
    part2.write.mode("overwrite").parquet(s"$srcDir/batch2")
    q.processAllAvailable()
    val afterAll = snapshot()
    part1.write.mode("overwrite").parquet(s"$srcDir/batch3") // redelivery
    q.processAllAvailable()
    val afterRedeliver = snapshot()
    q.stop()
    val want = graft.queries.Similarity.qAnnStreamProbe(spark, d).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_._1))
      .mapValues(rs => (rs.map(_._2).toSeq, rs.map(_._3).toSeq)).toMap
    assert(afterAll.keySet == want.keySet, "query coverage diverged")
    afterAll.foreach { case (qid, (ids, coss)) =>
      assert((ids, coss) == want(qid),
        s"q$qid: online snapshot ${(ids, coss)} != batch face ${want(qid)}")
    }
    assert(afterRedeliver == afterAll,
      "redelivered query file moved the snapshot")
  }

  test("file-source streaming corpus pipeline == batch capstone, incl. a late lower-id duplicate replacing its survivor") {
    import spark.implicits._
    val srcDir = tempDir("graft_corpus_src")
    val corpusDir = tempDir("graft_corpus_fx")

    // augmented corpus: the sf docs plus an engineered EXACT duplicate of
    // a mid-length doc under a LOWER doc_id (-1), arriving LAST — the
    // min-doc_id canon rule must hand the survivorship (and the rollup
    // row, via its 'zz' lang) to the late arrival
    val base = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
    val mid = graft.queries.Corpus.pipelineCleaned(spark, sf)
      .orderBy(abs(col("nt") - lit(50L)), col("doc_id")).limit(1)
      .select("doc_id").collect()(0).getLong(0)
    val cloneText = base.filter(col("doc_id") === mid)
      .select("text").collect()(0).getString(0)
    val clone = Seq((-1L, cloneText, "zz")).toDF("doc_id", "text", "lang")
    val all = base.unionAll(clone)
    all.write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    // the profiling side input: the same percentile bounds the batch plan
    // computes over the same corpus
    val b = graft.queries.Corpus.pipelineCleaned(spark, corpusDir)
      .agg(expr("percentile(nt, 0.1)"), expr("percentile(nt, 0.9)"))
      .collect()(0)
    val (p10, p90) = (b.getDouble(0), b.getDouble(1))

    base.write.mode("overwrite").parquet(s"$srcDir/batch1")
    val stream = spark.readStream.schema(all.schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/*")
    val q = Windows.corpusPipelineStream(stream.toDF(), p10, p90)
      .writeStream.format("memory").queryName("t_corpus_pipe")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable()
    // final survivor per fingerprint = the min-doc_id row ever emitted
    // (survivorship only ever moves to a lower id — the canon rule), so
    // the selection never leans on sink row order (round-12 ADVICE)
    def survivors() = spark.table("t_corpus_pipe").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4))))
      .groupBy(_._1).view.mapValues(_.minBy(_._2._1)._2).toMap
    val s1 = survivors()
    // batch 2: the duplicate arrives late with the lower id
    clone.write.mode("overwrite").parquet(s"$srcDir/batch2")
    q.processAllAvailable()
    val s2 = survivors()
    q.stop()

    val cloneFp = s2.collectFirst { case (fp, (-1L, _, _, _)) => fp }
    assert(cloneFp.isDefined, "the late duplicate must take over survivorship")
    assert(s1(cloneFp.get)._1 == mid && s2(cloneFp.get)._2 == "zz",
      s"survivor must flip $mid -> -1 (lang zz): ${s1(cloneFp.get)} -> ${s2(cloneFp.get)}")

    // the downstream stateless rollup over the final survivor snapshot
    // must equal the batch capstone on the identical corpus
    val got = s2.values.toSeq.groupBy(v => (v._4, v._2))
      .map { case ((split, lang), vs) =>
        (split, lang, vs.size.toLong, vs.map(_._3).sum) }.toSet
    val want = graft.queries.Corpus.qCorpusPipeline(spark, corpusDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want,
      s"streaming rollup diverged: extra=${got -- want} missing=${want -- got}")
  }
}
