package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Windows
import graft.streaming.Windows.UserEvent

/** M5 — streaming-vs-batch equivalence: the SAME plan fragments
  * (Windows.tumbling/sessions) fed incrementally through MemoryStream must
  * produce what the batch run over the full input produces. This is the
  * correctness check the DuckDB oracle can't do (it has no readStream).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val eventsData = Seq(
    // user 1: two sessions (6h+ gap between 03:00 and 10:00)
    (1L, ts("2024-01-01 00:10:00"), "click", 1.0),
    (1L, ts("2024-01-01 00:40:00"), "view", 2.5),
    (1L, ts("2024-01-01 03:00:00"), "click", 1.5),
    (1L, ts("2024-01-01 10:00:00"), "purchase", 10.0),
    // user 2: one session
    (2L, ts("2024-01-01 01:05:00"), "view", 0.5),
    (2L, ts("2024-01-01 01:55:00"), "view", 0.5),
    // boundary probes: exactly 6h later MERGES; 6h + 1µs opens a new session
    (3L, ts("2024-01-01 00:00:00"), "click", 1.0),
    (3L, ts("2024-01-01 06:00:00"), "click", 1.0),
    (4L, ts("2024-01-01 00:00:00"), "click", 1.0),
    (4L, ts("2024-01-01 06:00:00.000001"), "click", 1.0),
  )

  private def eventsDf(rows: Seq[(Long, Timestamp, String, Double)]) = {
    import spark.implicits._
    rows.toDF("user_id", "ts", "event_type", "value")
  }

  test("streaming tumbling agg (complete mode) equals the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamed = Windows.tumbling(
      mem.toDF().toDF("user_id", "ts", "event_type", "value"))
    val q = streamed.writeStream.format("memory")
      .queryName("t_tumbling").outputMode(OutputMode.Complete()).start()
    // two incremental batches
    mem.addData(eventsData.take(4))
    q.processAllAvailable()
    mem.addData(eventsData.drop(4))
    q.processAllAvailable()
    val got = spark.table("t_tumbling").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    val want = Windows.tumbling(eventsDf(eventsData)).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    q.stop()
    assert(got == want)
  }

  test("stream-static enrichment join (complete mode) equals the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static dimension: user 4 deliberately absent (inner join drops it)
    val customers = Seq((1L, "AUTOMOBILE"), (2L, "BUILDING"), (3L, "AUTOMOBILE"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamed = Windows.enrich(
      mem.toDF().toDF("user_id", "ts", "event_type", "value"), customers)
    val q = streamed.writeStream.format("memory")
      .queryName("t_enrich").outputMode(OutputMode.Complete()).start()
    mem.addData(eventsData.take(4))
    q.processAllAvailable()
    mem.addData(eventsData.drop(4))
    q.processAllAvailable()
    val got = spark.table("t_enrich").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = Windows.enrich(eventsDf(eventsData), customers).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("latest-wins upsert view converges to the batch max_by dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 10L, ts("2024-01-01 00:10:00"), "click", 1.0),
      (1L, 11L, ts("2024-01-01 02:00:00"), "view", 2.0),
      (2L, 20L, ts("2024-01-01 01:00:00"), "view", 3.0),
      // same-microsecond tie for user 2: higher event_id must win
      (2L, 21L, ts("2024-01-01 01:00:00"), "click", 4.0),
      // late, OLDER version for user 1 arriving in a later batch: ignored
      (1L, 9L, ts("2024-01-01 00:00:00"), "purchase", 9.0))
    val mem = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val streamed = Windows.latestWins(
      mem.toDF().toDF("user_id", "event_id", "ts", "event_type", "value")
        .as[Windows.ChangeEvent])
    val q = streamed.writeStream.format("memory")
      .queryName("t_latest").outputMode(OutputMode.Update()).start()
    mem.addData(rows.take(3)); q.processAllAvailable()
    mem.addData(rows.drop(3)); q.processAllAvailable()
    // final state per key = the (us, event_id)-max row in the update log
    val got = spark.table("t_latest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.maxBy(x => (x._3, x._2))._2).toMap
    q.stop()
    val want = rows.groupBy(_._1).view.mapValues(
      _.maxBy(e => (e._3.getTime, e._2))._2).toMap
    assert(got == want, s"got=$got want=$want")
    assert(got(1L) == 11L && got(2L) == 21L)
  }

  test("streaming session windows (append + watermark) equal the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamed = Windows.sessionsStream(
      mem.toDF().toDF("user_id", "ts", "event_type", "value"))
    val q = streamed.writeStream.format("memory")
      .queryName("t_sessions").outputMode(OutputMode.Append()).start()
    mem.addData(eventsData)
    q.processAllAvailable()
    // sentinel far in the future advances the watermark so every real
    // session is finalized and emitted in append mode
    mem.addData(Seq((99L, ts("2024-02-01 00:00:00"), "click", 0.0)))
    q.processAllAvailable()
    val got = spark.table("t_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != 99L).toSet
    val want = Windows.sessions(eventsDf(eventsData)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(got == want)
    // boundary probes: exact gap merges (user 3), gap+1µs splits (user 4)
    assert(got.count(_._1 == 3L) == 1, "exact-gap event must merge into the session")
    assert(got.count(_._1 == 4L) == 2, "gap+1µs must open a new session")
  }

  test("flatMapGroupsWithState sessionizer equals session_window batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = Windows.sessionizeStream(mem.toDS()).writeStream.format("memory")
      .queryName("t_fmgws").outputMode(OutputMode.Append()).start()
    // two time-ordered batches from the same fixture rows
    val asUserEvents = eventsData.map { case (u, t, _, v) => UserEvent(u, t, v) }
    val (b1, b2) = asUserEvents.sortBy(_.ts.getTime).splitAt(5)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    // advance watermark far past every session end so timeouts fire
    mem.addData(Seq(UserEvent(99L, ts("2024-03-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(UserEvent(99L, ts("2024-04-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    val got = spark.table("t_fmgws").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != 99L).toSet
    val want = Windows.sessions(eventsDf(eventsData)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(got == want,
      s"custom sessionizer diverged: extra=${got -- want} missing=${want -- got}")
  }

  test("streaming window funnel: order-independent, and a late earlier view re-anchors the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Windows.FunnelEvent
    val H = 3600L * 1000L // ms per hour for Timestamp construction
    def at(h: Long) = new Timestamp(1700000000000L + h * H)
    val mem = MemoryStream[FunnelEvent]
    val q = Windows.funnelStream(mem.toDS()).writeStream.format("memory")
      .queryName("t_funnel").outputMode(OutputMode.Update()).start()
    // batch 1 delivers u1's chain REVERSED (purchase, click, view) plus
    // u2 (click before view) and u3 (click at +25 h, outside 24 h)
    mem.addData(Seq(
      FunnelEvent(1L, at(20), "purchase", 103L),
      FunnelEvent(1L, at(10), "click", 102L),
      FunnelEvent(1L, at(0), "view", 101L),
      FunnelEvent(2L, at(1), "click", 201L), FunnelEvent(2L, at(2), "view", 202L),
      FunnelEvent(3L, at(0), "view", 301L), FunnelEvent(3L, at(25), "click", 302L),
      // u4: view at 20 h, click at 30 h — qualifies against THIS anchor
      FunnelEvent(4L, at(20), "view", 401L), FunnelEvent(4L, at(30), "click", 402L)))
    q.processAllAvailable()
    def snaps() = spark.table("t_funnel").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    val s1 = snaps()
    assert(s1(1L)._1 == 3, s"out-of-order delivery must still reach stage 3: $s1")
    assert(s1(2L)._1 == 1 && s1(3L)._1 == 1, s"non-qualifying clicks: $s1")
    assert(s1(4L)._1 == 2, s"u4 qualifies against the 20 h anchor: $s1")
    // batch 2: a LATE, EARLIER view for u4 re-anchors the window at 0 h —
    // the 30 h click now falls OUTSIDE (0, 24] and the stage must DROP
    mem.addData(Seq(FunnelEvent(4L, at(0), "view", 403L)))
    q.processAllAvailable()
    val s2 = snaps()
    q.stop()
    assert(s2(4L) == ((1, at(0).getTime * 1000L, -1L)),
      s"re-anchoring must demote u4 to stage 1 with t1 = 0 h: ${s2(4L)}")
    assert(s2(1L)._1 == 3, "unrelated users unchanged")
  }

  test("streaming CEP pattern: replay matches the batch automaton; late events demote and create matches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Windows.FunnelEvent
    val M = 60L * 1000L // ms per minute
    def at(m: Long) = new Timestamp(1700000000000L + m * M)
    def us(m: Long) = at(m).getTime * 1000L
    val mem = MemoryStream[FunnelEvent]
    val q = Windows.patternStream(mem.toDS()).writeStream.format("memory")
      .queryName("t_cep").outputMode(OutputMode.Update()).start()
    // u1: clean view→purchase within the hour, delivered REVERSED;
    // u2: error between view and purchase — blocked;
    // u3: view at 0, purchase at 70 min — outside the 1 h window;
    // u4: purchase with no view at all
    mem.addData(Seq(
      FunnelEvent(1L, at(30), "purchase", 102L), FunnelEvent(1L, at(0), "view", 101L),
      FunnelEvent(2L, at(0), "view", 201L), FunnelEvent(2L, at(10), "error", 202L),
      FunnelEvent(2L, at(20), "purchase", 203L),
      FunnelEvent(3L, at(0), "view", 301L), FunnelEvent(3L, at(70), "purchase", 302L),
      FunnelEvent(4L, at(5), "purchase", 401L)))
    q.processAllAvailable()
    def snaps() = spark.table("t_cep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    val s1 = snaps()
    assert(s1(1L) == ((1L, 1L, us(30))), s"u1 must match out-of-order: $s1")
    assert(s1(2L) == ((1L, 0L, -1L)), s"u2's error must block: $s1")
    assert(s1(3L) == ((1L, 0L, -1L)), s"u3 outside the hour: $s1")
    assert(s1(4L) == ((1L, 0L, -1L)), s"u4 has no anchoring view: $s1")
    // late DEMOTION: an error at 15 min lands between u1's view and
    // purchase — the replayed automaton must withdraw the match
    mem.addData(Seq(FunnelEvent(1L, at(15), "error", 103L)))
    q.processAllAvailable()
    assert(snaps()(1L) == ((1L, 0L, -1L)), "late error must demote u1")
    // late CREATION: a view at 15 min for u2 arrives AFTER its error —
    // the purchase at 20 min now has an un-errored anchor and matches
    mem.addData(Seq(FunnelEvent(2L, at(15), "view", 204L)))
    q.processAllAvailable()
    assert(snaps()(2L) == ((1L, 1L, us(20))), "late view must create u2's match")
    // cross-check the final state against the batch window spelling on
    // the SAME event set (the automaton and the window unrolling agree)
    val all = Seq(
      (1L, us(30), "purchase"), (1L, us(0), "view"), (1L, us(15), "error"),
      (2L, us(0), "view"), (2L, us(10), "error"), (2L, us(20), "purchase"),
      (2L, us(15), "view"),
      (3L, us(0), "view"), (3L, us(70), "purchase"), (4L, us(5), "purchase"))
    val expect = all.groupBy(_._1).map { case (u, es) =>
      var lastV = -1L; var lastE = -1L
      var nP = 0L; var nM = 0L; var firstM = -1L
      es.sortBy(_._2).foreach { case (_, t, typ) =>
        if (typ == "purchase") {
          nP += 1
          if (lastV >= 0 && lastE < lastV && t - lastV <= 3600000000L) {
            nM += 1; if (firstM < 0) firstM = t
          }
        }
        if (typ == "view") lastV = t
        if (typ == "error") lastE = t
      }
      u -> ((nP, nM, firstM))
    }
    val fin = snaps()
    q.stop()
    expect.foreach { case (u, t) => assert(fin(u) == t, s"user $u") }
  }

  test("streaming CEP pattern: same-microsecond events keep batch-twin id order and distinct duplicates both count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Windows.FunnelEvent
    val M = 60L * 1000L
    def at(m: Long) = new Timestamp(1700000000000L + m * M)
    def us(m: Long) = at(m).getTime * 1000L
    val mem = MemoryStream[FunnelEvent]
    val q = Windows.patternStream(mem.toDS()).writeStream.format("memory")
      .queryName("t_cep_ties").outputMode(OutputMode.Update()).start()
    mem.addData(Seq(
      // u1: view and purchase in the SAME microsecond — event_id order
      // (view id 1 < purchase id 2) makes the view "1 PRECEDING", so the
      // purchase matches, exactly as qEventPattern's (t_us, event_id) sort
      FunnelEvent(1L, at(0), "view", 1L), FunnelEvent(1L, at(0), "purchase", 2L),
      // u2: the REVERSED id order — purchase sorts before its view → no match
      FunnelEvent(2L, at(0), "view", 12L), FunnelEvent(2L, at(0), "purchase", 11L),
      // u3: two DISTINCT purchases in one microsecond — both must count
      // (the old (t, code) state collapsed them into one)
      FunnelEvent(3L, at(0), "view", 21L),
      FunnelEvent(3L, at(5), "purchase", 22L),
      FunnelEvent(3L, at(5), "purchase", 23L),
      // u3 redelivery of event 22 — idempotent, must NOT triple-count
      FunnelEvent(3L, at(5), "purchase", 22L)))
    q.processAllAvailable()
    val fin = spark.table("t_cep_ties").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    q.stop()
    assert(fin(1L) == ((1L, 1L, us(0))), s"same-µs view<purchase by id: $fin")
    assert(fin(2L) == ((1L, 0L, -1L)), s"purchase before its same-µs view: $fin")
    assert(fin(3L) == ((2L, 2L, us(5))),
      s"distinct same-µs purchases both count once each: $fin")
  }

  test("streaming CEP pattern: watermark prunes history by exact prefix folding") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Windows.FunnelEvent
    val M = 60L * 1000L
    def at(m: Long) = new Timestamp(1700000000000L + m * M)
    def us(m: Long) = at(m).getTime * 1000L
    val mem = MemoryStream[FunnelEvent]
    // 0-second watermark: after each batch the watermark is that batch's
    // max event time, so the 1 h cutoff advances past batch 1's events by
    // batch 3 and they are folded into the frozen summary
    val q = Windows.patternStream(
        mem.toDS().withWatermark("ts", "0 seconds").as[FunnelEvent])
      .writeStream.format("memory").queryName("t_cep_wm")
      .outputMode(OutputMode.Update()).start()
    mem.addData(Seq(FunnelEvent(1L, at(0), "view", 1L),
      FunnelEvent(1L, at(30), "purchase", 2L))) // match #1
    q.processAllAvailable()
    mem.addData(Seq(FunnelEvent(1L, at(300), "view", 3L)))
    q.processAllAvailable()
    // during this batch the watermark is 300 min → cutoff 240 min: the
    // first pair is now FROZEN state, not pending history — the final
    // counts can only be right if the prefix fold preserved them
    mem.addData(Seq(FunnelEvent(1L, at(320), "purchase", 4L))) // match #2
    q.processAllAvailable()
    val fin = spark.table("t_cep_wm").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    q.stop()
    assert(fin(1L) == ((2L, 2L, us(30))),
      s"frozen-prefix counts must survive pruning: $fin")
  }

  test("streaming group sample: order-shuffled feed converges to the batch k-per-language sample") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Windows.SampleDoc
    val d = "/root/testdata/sf0.001"
    val keyed = graft.io.Tables.documents(spark, d)
      .select(col("lang"), col("doc_id"),
        graft.core.TextPipeline.h32(col("doc_id").cast("string")).as("h"))
      .collect().map(r => SampleDoc(r.getString(0), r.getLong(1), r.getLong(2)))
    val mem = MemoryStream[SampleDoc]
    val q = Windows.groupSampleStream(mem.toDS(), 5)
      .writeStream.format("memory").queryName("t_gsample")
      .outputMode(OutputMode.Update()).start()
    // deliberately adversarial order: DESCENDING selection key, split in
    // two batches — every later batch displaces earlier picks
    val byKeyDesc = keyed.sortBy(sd => (-sd.h, -sd.doc_id))
    val (b1, b2) = byKeyDesc.splitAt(byKeyDesc.length / 2)
    mem.addData(b1.toSeq); q.processAllAvailable()
    mem.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("t_gsample").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
      .groupBy(_._1).view.mapValues(_.last._2.toSeq).toMap
    q.stop()
    val want = graft.queries.Corpus.qGroupSample(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(got == want,
      s"online sample diverged from batch: got=$got want=$want")
  }

  test("the reference's flagship as a stream: incremental word count == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = Seq("The quick brown fox", "jumps over the lazy dog",
      "THE  quick   fox!", "dog dog 123 dog")
    val mem = MemoryStream[String]
    val counted = graft.core.TextPipeline.words(mem.toDF().toDF("text"), "text")
      .groupBy("word").count()
    val q = counted.writeStream.format("memory")
      .queryName("t_wc").outputMode(OutputMode.Complete()).start()
    mem.addData(lines.take(2)); q.processAllAvailable()
    mem.addData(lines.drop(2)); q.processAllAvailable()
    val got = spark.table("t_wc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.core.TextPipeline.words(lines.toDF("text"), "text")
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(got == want)
    assert(got("dog") == 4 && got("the") == 3, "reference tokenizer semantics hold")
  }

  test("streaming dropDuplicates with watermark equals batch distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // duplicate event_ids arrive across batches (at-least-once delivery)
    val rows = Seq(
      (100L, ts("2024-01-01 00:10:00"), 1.0),
      (101L, ts("2024-01-01 00:20:00"), 2.0),
      (100L, ts("2024-01-01 00:10:00"), 1.0), // dup in same batch
      (102L, ts("2024-01-01 00:40:00"), 3.0))
    val lateDup = Seq((101L, ts("2024-01-01 00:20:00"), 2.0)) // dup in next batch
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val dedup = mem.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = dedup.writeStream.format("memory")
      .queryName("t_dedup").outputMode(OutputMode.Append()).start()
    mem.addData(rows); q.processAllAvailable()
    mem.addData(lateDup); q.processAllAvailable()
    val got = spark.table("t_dedup").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    q.stop()
    assert(got == Set((100L, 1.0), (101L, 2.0), (102L, 3.0)),
      "each event_id must survive exactly once across batches")
  }

  test("streaming winnow-fingerprint novelty equals the batch winnow pipeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real corpus documents arriving in two batches, then a re-delivery
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.splitAt(30)
    val mem = MemoryStream[(Long, String)]
    val q = Windows.winnowNovel(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t_winnow")
      .outputMode(OutputMode.Append()).start()
    mem.addData(b1.toSeq); q.processAllAvailable()
    mem.addData(b2.toSeq); q.processAllAvailable()
    mem.addData(b1.take(5).toSeq); q.processAllAvailable() // at-least-once redelivery
    val got = spark.table("t_winnow").collect()
      .map(_.getAs[Long]("fingerprint"))
    q.stop()
    // batch truth from qFingerprintWinnow, restricted to the streamed
    // docs — pins streaming == batch AND the two spellings of the one
    // selection rule: the row-local TextAnalysis.winnowRowLocal (stream)
    // == the relational window TextAnalysis.winnowFpsOf (batch)
    val ids = docs.map(_._1)
    val batch = graft.queries.TextAnalysis.qFingerprintWinnow(spark, sf)
      .filter(col("doc_id").isin(ids: _*))
      .select("fingerprint").collect().map(_.getLong(0)).toSet
    assert(got.toSet == batch,
      s"streaming novelty set ${got.size} != batch winnow set ${batch.size}")
    // dropDuplicates state must swallow the redelivered batch: each
    // fingerprint appears exactly once in the append output
    assert(got.length == got.toSet.size, "redelivery leaked duplicate fingerprints")
  }

  test("stream-stream interval join equals the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      (1L, ts("2024-01-01 01:00:00"), 10.0),
      (1L, ts("2024-01-01 05:00:00"), 20.0),
      (2L, ts("2024-01-01 02:30:00"), 30.0))
    val clicks = Seq(
      (1L, ts("2024-01-01 00:40:00"), 1.0), // 20 min before p1 -> match
      (1L, ts("2024-01-01 04:50:00"), 1.0), // 10 min before p2 -> match
      (1L, ts("2024-01-01 02:00:00"), 1.0), // 1h after p1 -> no match
      (2L, ts("2024-01-01 02:00:00"), 1.0)) // 30 min before p3 -> match
    def joined(p: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) = {
      val pw = p.toDF("p_user", "p_ts", "p_val").withWatermark("p_ts", "1 hour")
      val cw = c.toDF("c_user", "c_ts", "c_val").withWatermark("c_ts", "1 hour")
      pw.join(cw, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
        .select(col("p_user"), unix_micros(col("p_ts")).as("p_us"),
          unix_micros(col("c_ts")).as("c_us"))
    }
    val pMem = MemoryStream[(Long, Timestamp, Double)]
    val cMem = MemoryStream[(Long, Timestamp, Double)]
    val q = joined(pMem.toDF(), cMem.toDF()).writeStream.format("memory")
      .queryName("t_ssjoin").outputMode(OutputMode.Append()).start()
    // batches split by EVENT TIME (out-of-order arrival beyond the
    // watermark is correctly dropped — see the file-source spec)
    val cut = ts("2024-01-01 03:00:00")
    pMem.addData(purchases.filter(_._2.before(cut)))
    cMem.addData(clicks.filter(_._2.before(cut)))
    q.processAllAvailable()
    pMem.addData(purchases.filterNot(_._2.before(cut)))
    cMem.addData(clicks.filterNot(_._2.before(cut)))
    q.processAllAvailable()
    // advance both watermarks so every joinable pair matures
    pMem.addData(Seq((99L, ts("2024-02-01 00:00:00"), 0.0)))
    cMem.addData(Seq((99L, ts("2024-02-01 00:00:01"), 0.0)))
    q.processAllAvailable()
    val got = spark.table("t_ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).filter(_._1 != 99L).toSet
    val want = joined(purchases.toDF("a", "b", "c"), clicks.toDF("a", "b", "c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    assert(want.size == 3, "fixture expects exactly 3 interval matches")
  }

  test("shared intervalJoin definition: streaming equals batch (q_stream_join face)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      (1001L, 1L, ts("2024-01-01 01:00:00")),
      (1002L, 1L, ts("2024-01-01 05:00:00")),
      (1003L, 2L, ts("2024-01-01 02:30:00")))
    val clicks = Seq(
      (2001L, 1L, ts("2024-01-01 00:40:00")),   // 20 min before p1 -> match
      (2002L, 1L, ts("2024-01-01 01:25:00")),   // 25 min after p1 -> match (±30)
      (2003L, 1L, ts("2024-01-01 02:00:00")),   // 1 h after p1 -> no match
      (2004L, 2L, ts("2024-01-01 02:10:00")))   // 20 min before p3 -> match
    def df(rows: Seq[(Long, Long, Timestamp)]) =
      rows.toDF("event_id", "user_id", "ts")
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val q = Windows.intervalJoin(
        pMem.toDF().toDF("event_id", "user_id", "ts").withWatermark("ts", "1 hour"),
        cMem.toDF().toDF("event_id", "user_id", "ts").withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("t_ijoin")
      .outputMode(OutputMode.Append()).start()
    pMem.addData(purchases); cMem.addData(clicks)
    q.processAllAvailable()
    // push both watermarks past every pair so all matches mature
    pMem.addData(Seq((9999L, 99L, ts("2024-02-01 00:00:00"))))
    cMem.addData(Seq((9998L, 99L, ts("2024-02-01 00:00:01"))))
    q.processAllAvailable()
    val got = spark.table("t_ijoin").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      .filter(_._1 != 99L).toSet
    val want = Windows.intervalJoin(df(purchases), df(clicks)).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    q.stop()
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    assert(want.size == 3, "fixture expects exactly 3 interval matches")
  }

  test("left-outer intervalJoin: clickless purchase emits null-padded row after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      (1001L, 1L, ts("2024-01-01 01:00:00")),  // has a click -> matched row
      (1005L, 3L, ts("2024-01-01 09:00:00")))  // user 3 never clicks -> null-padded
    val clicks = Seq((2001L, 1L, ts("2024-01-01 00:40:00")))
    def df(rows: Seq[(Long, Long, Timestamp)]) =
      rows.toDF("event_id", "user_id", "ts")
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val q = Windows.intervalJoin(
        pMem.toDF().toDF("event_id", "user_id", "ts").withWatermark("ts", "1 hour"),
        cMem.toDF().toDF("event_id", "user_id", "ts").withWatermark("ts", "1 hour"),
        "left_outer")
      .writeStream.format("memory").queryName("t_ojoin")
      .outputMode(OutputMode.Append()).start()
    pMem.addData(purchases); cMem.addData(clicks)
    q.processAllAvailable()
    // the null-padded row may only emit once the watermark PROVES no
    // click can still arrive for the 09:00 purchase
    pMem.addData(Seq((9999L, 99L, ts("2024-02-01 00:00:00"))))
    cMem.addData(Seq((9998L, 99L, ts("2024-02-01 00:00:01"))))
    q.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))
    val got = spark.table("t_ojoin").collect().map(key).filter(_._1 != 99L).toSet
    val want = Windows.intervalJoin(df(purchases), df(clicks), "left_outer")
      .collect().map(key).toSet
    q.stop()
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    assert(want.contains((3L, 1005L, -1L)), "clickless purchase must survive null-padded")
  }

  test("mapGroupsWithState running profiles reflect all events after last batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = Windows.userProfiles(mem.toDS()).writeStream.format("memory")
      .queryName("t_profiles").outputMode(OutputMode.Update()).start()
    mem.addData(UserEvent(1L, ts("2024-01-01 00:10:00"), 1.0),
      UserEvent(1L, ts("2024-01-01 00:40:00"), 2.5))
    q.processAllAvailable()
    mem.addData(UserEvent(1L, ts("2024-01-01 03:00:00"), 1.5),
      UserEvent(2L, ts("2024-01-01 01:05:00"), 0.5))
    q.processAllAvailable()
    val last = spark.table("t_profiles").groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_value"), col("last_ts_us"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.total_value"), col("s.last_ts_us"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    q.stop()
    assert(last(1L)._1 == 3L && last(1L)._2 == 5.0)
    assert(last(1L)._3 == ts("2024-01-01 03:00:00").getTime * 1000L)
    assert(last(2L)._1 == 1L && last(2L)._2 == 0.5)
  }

  test("streaming bounded top-k converges to the batch merge; redelivery-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Windows.PricedOrder
    // real fixture data: sf0.001 orders joined to nation, driver-collected
    val rows = graft.io.Tables.orders(spark, sf)
      .join(graft.io.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .join(graft.io.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        round(col("o_totalprice") * 100).cast("long"), col("o_orderkey"))
      .collect().map(r => PricedOrder(r.getString(0), r.getLong(1), r.getLong(2)))
    val mem = MemoryStream[PricedOrder]
    val q = graft.streaming.Windows.topkStream(mem.toDS())
      .writeStream.format("memory").queryName("t_topk")
      .outputMode(OutputMode.Update()).start()
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    // redeliver part of batch 2 (at-least-once) alongside batch 3
    mem.addData(b3 ++ b2.take(20)); q.processAllAvailable()
    // LAST snapshot per nation (memory sink appends each Update emission)
    val got = spark.table("t_topk").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .zipWithIndex.groupBy(_._1._1).map { case (n2, v) => n2 -> v.maxBy(_._2)._1 }
      .map { case (n2, (_, ps, ks)) => n2 -> ps.zip(ks) }
    val want = rows.groupBy(_.nation).map { case (n2, os) =>
      n2 -> os.map(o => (o.price_cents, o.o_orderkey)).distinct.sorted.take(3).toSeq }
    assert(got == want, "final streamed snapshots must equal the one-pass batch merge")
    // and equal q_topk_bounded's answer on the same fixture
    val batchQ = graft.queries.Relational.qTopkBounded(spark, sf).collect()
      .groupBy(_.getString(0)).map { case (n2, rs) =>
        n2 -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(3), r.getLong(2))).toSeq }
    assert(got == batchQ, "streamed top-k must equal the q_topk_bounded aggregate")
    q.stop()
  }

  test("streaming per-day HLL registers (update mode) equal the batch register table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real fixture traffic, split mid-stream: day boundaries land in both
    // batches so at least one day's registers must MERGE across updates
    val ev = graft.io.Tables.events(spark, sf)
      .select(col("ts"), col("user_id")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq.sortBy(_._1.getTime)
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val mem = MemoryStream[(Timestamp, Long)]
    val q = Windows.hllDayRegisters(mem.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("t_hll_days")
      .outputMode(OutputMode.Update()).start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    // register sums only grow (elementwise-max merge is monotone), so
    // the final snapshot per day is the max-sum row — never sink order
    val got = spark.table("t_hll_days").collect()
      .map(r => (r.getDate(0).toString, r.getSeq[Int](1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_.sum)).toMap
    val want = Windows.hllDayRegisters(
        graft.io.Tables.events(spark, sf).select(col("ts"), col("user_id")))
      .collect().map(r => (r.getDate(0).toString, r.getSeq[Int](1))).toMap
    assert(got.keySet == want.keySet, "day sets must match")
    want.foreach { case (d, regs) =>
      assert(got(d) == regs, s"day $d: streaming registers != batch")
    }
    // the split must actually exercise a cross-batch merge: the cut day
    // appears in both halves
    val cutDay = b2.head._1.toLocalDateTime.toLocalDate.toString
    assert(b1.exists(_._1.toLocalDateTime.toLocalDate.toString == cutDay),
      "fixture split must straddle a day boundary")
  }

  test("streaming CMS counters (update mode) equal the batch sketch grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real fixture docs, split mid-stream: the heavy bigrams occur in
    // both halves, so their cells must MERGE across updates
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = Windows.cmsCounters(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t_cms_cells")
      .outputMode(OutputMode.Update()).start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    // counters only grow, so the final snapshot per cell is the max row
    // — never sink order
    val got = spark.table("t_cms_cells").collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val want = graft.queries.Analytics.cmsSketch(
        graft.queries.Analytics.cmsKeyCounts(
          graft.io.Tables.documents(spark, sf)))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want, "streaming CMS grid != batch sketch")
    // the split must actually merge: some cell is populated by BOTH
    // halves (counter strictly between either half's own count)
    val h1 = graft.queries.Analytics.cmsSketch(
        graft.queries.Analytics.cmsKeyCounts(
          b1.toDF("doc_id", "text")))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(want.exists { case (k, v) =>
      h1.getOrElse(k, 0L) > 0L && h1(k) < v },
      "split must land occurrences of some cell in both batches")
  }

  test("streaming bloom bits (update mode) equal the batch filter under " +
      "a bit_or fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = graft.io.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
    val (b1, b2) = orders.splitAt(orders.length / 2)
    val mem = MemoryStream[(Long, Double)]
    val q = Windows.bloomBuildBits(
        mem.toDF().toDF("o_orderkey", "o_totalprice"))
      .writeStream.format("memory").queryName("t_bloom_bits")
      .outputMode(OutputMode.Update()).start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    // bits only gain; the consumer fold is bit_or per idx (NOT max —
    // bit 63 makes a long negative)
    val got = spark.table("t_bloom_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ | _)).toMap
    val want = graft.queries.Analytics.bloomBits(
        graft.io.Tables.orders(spark, sf)
          .filter(col("o_totalprice") > graft.queries.Analytics.HighValue)
          .select(col("o_orderkey").as("k")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, "streaming bloom bits != batch filter")
    assert(want.nonEmpty)
    // the split must actually merge: some idx gains bits across batches
    val h1 = graft.queries.Analytics.bloomBits(
        b1.toDF("o_orderkey", "o_totalprice")
          .filter(col("o_totalprice") > graft.queries.Analytics.HighValue)
          .select(col("o_orderkey").as("k")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(want.exists { case (k, v) =>
      h1.get(k).exists(b => b != 0L && b != v && (b & v) == b) },
      "split must land bits of some idx in both batches")
  }

  test("streaming exact dedup (append mode) keeps the batch canonicals " +
      "across a duplicate-straddling batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fixture docs plus two ENGINEERED duplicates (the sf0.001 fixture
    // has none) placed so the pair straddles the batch split — and a
    // same-fingerprint-different-raw-text pair (tab vs space) proving
    // the face dedups on the NORMALIZED fingerprint, not raw text
    val fixture = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val base = fixture.map(_._1).max
    val ids = Seq(base + 1, base + 2)
    val docs = (fixture :+ (ids.head, "alpha beta gamma")).sortBy(_._1) :+
      (ids.last, "alpha  beta gamma")
    val (b1, b2) = (docs.dropRight(1), Seq(docs.last))
    // batch expectation: min doc_id per normalized fingerprint
    val canonicals = docs
      .groupBy(_._2.split(" ", -1).map(_.toLowerCase
        .replaceAll("[^a-z]", "")).filter(_.nonEmpty).mkString(" "))
      .values.map(_.map(_._1).min).toSet
    val mem = MemoryStream[(Long, String)]
    val q = Windows.dedupStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("t_dedup_stream").collect()
      .map(_.getLong(0)).toSet
    assert(got == canonicals,
      "streaming survivors != batch min-doc_id canonicals")
    // and the straddling group's later copy was dropped by cross-batch
    // state, not merely within-batch dedup
    assert(!got.contains(ids.last) && got.contains(ids.head),
      "cross-batch duplicate survived")
  }
}
