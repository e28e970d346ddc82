package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DecimalType
import graft.plans.SortedIntersectCount

/** M5 — event-time windowing, ONE definition for batch and streaming.
  *
  * The reference is strictly batch (SURVEY.md §2.2: streaming absent), so
  * this tier is pure extension surface, built the Structured-Streaming way:
  * each aggregation is a plan fragment over a DataFrame that works
  * identically on a bounded scan (batch — what Verify checks against
  * DuckDB) and on `readStream` input (what StreamingSpec checks against
  * the batch run via MemoryStream). Watermarks bound state; session
  * windows and the typed running-state op handle the custom-state cases.
  *
  * Scale stance: streaming state is keyed by (window, event_type) or
  * user_id — state store size is O(open windows × types) / O(users), not
  * O(events); the watermark evicts closed windows, and all aggregations
  * partial-aggregate before the shuffle.
  */
object Windows {

  private def dVal(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Tumbling 1-hour counts/sums per event_type. Window bounds exported as
    * epoch micros (exact integers — no timestamp formatting ambiguity). */
  def tumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dVal(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        unix_micros(col("window.end")).as("win_end_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour window every 30 minutes (each event lands in 2 windows). */
  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dVal(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        unix_micros(col("window.end")).as("win_end_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user, 6-hour inactivity gap. Spark semantics:
    * session end = last event + gap. */
  def sessions(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dVal(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))

  /** Stream-stream interval join, ONE definition for batch and streaming:
    * purchase ⋈ click per user, click within ±30 minutes of the purchase.
    * The range condition stays on the raw event-time columns (what lets
    * streaming derive the state-eviction bound from the watermarks); both
    * event ids ride along so downstream ordering is total. In streaming
    * both inputs need `withWatermark` before calling (each side's state
    * is then bounded to watermark + 30 min). `joinType` "left_outer"
    * keeps clickless purchases — in streaming the null-padded row emits
    * once the watermark proves no match can still arrive. */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
                   joinType: String = "inner"): DataFrame =
    purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .join(
        clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_event")),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("c_ts")).as("c_us"),
        col("p_event"), col("c_event"))

  /** Stream-static enrichment join + aggregation, ONE definition for batch
    * and streaming: events joined to the (static, broadcast) customer
    * dimension on user_id, spend rolled up per market segment × event
    * type. In streaming this is the stream-static join Structured
    * Streaming re-evaluates per micro-batch — the dimension is read fresh
    * each batch, needs no watermark, and holds no state; only the
    * aggregation keeps (segment × type)-cardinality state. The decimal
    * quantization makes the float sum partition-order-free, so streaming
    * and batch agree bit-for-bit. */
  def enrich(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dVal(col("value"))).cast("double").as("sum_value"))

  // ---- true streaming entry points ----------------------------------------

  /** Streaming tumbling aggregation with a 2-hour watermark (bounds state:
    * windows older than watermark are finalized and evicted). */
  def tumblingStream(events: DataFrame): DataFrame =
    tumbling(events.withWatermark("ts", "2 hours"))

  /** Streaming session windows (append mode requires the watermark). */
  def sessionsStream(events: DataFrame): DataFrame =
    sessions(events.withWatermark("ts", "2 hours"))

  /** Typed event for the custom-state operator. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Timestamp → epoch micros WITHOUT losing sub-millisecond precision
    * (`getTime` is millis; the nanos field carries the rest). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  /** Running per-user profile maintained with explicit state. */
  case class UserProfile(user_id: Long, n_events: Long, total_value: Double,
                         last_ts_us: Long)

  /** Custom stateful streaming: per-user running profile via
    * `mapGroupsWithState` — the `KeyValueGroupedDataset` custom-state path
    * for semantics windowed aggs can't express (running totals emitted
    * every update). State is one small record per user. */
  def userProfiles(events: Dataset[UserEvent]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserProfile, UserProfile](GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserProfile]) =>
          val prev = state.getOption.getOrElse(UserProfile(uid, 0L, 0.0, Long.MinValue))
          // deterministic in-batch order: fold by event time then value
          val evs = batch.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
          val next = evs.foldLeft(prev) { (p, e) =>
            UserProfile(uid, p.n_events + 1,
              math.round((p.total_value + e.value) * 100).toDouble / 100,
              math.max(p.last_ts_us, tsMicros(e.ts)))
          }
          state.update(next)
          next
      }
  }

  /** A keyed changelog record (the CDC ingest shape). */
  case class ChangeEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                         event_type: String, value: Double)
  /** The surviving latest version for a key. */
  case class LatestEvent(user_id: Long, event_id: Long, us: Long,
                         event_type: String, value: Double)

  /** Latest-version-wins upsert view of a keyed changelog — the streaming
    * twin of the batch `q_dedup_latest` max_by: state holds ONE record per
    * key (the (us, event_id)-lexicographic max seen so far) and re-emits
    * it whenever a batch touches the key. Late or out-of-order versions
    * fold in correctly because the max is order-free. This is the
    * materialized "current row per key" view every CDC ingest keeps. */
  def latestWins(events: Dataset[ChangeEvent]): Dataset[LatestEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[LatestEvent, LatestEvent](GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[ChangeEvent], state: GroupState[LatestEvent]) =>
          val best = (state.getOption.iterator ++ batch.map(e =>
            LatestEvent(uid, e.event_id, tsMicros(e.ts), e.event_type, e.value)))
            .maxBy(l => (l.us, l.event_id))
          state.update(best)
          best
      }
  }

  /** One priced order flowing into the streaming top-k. */
  case class PricedOrder(nation: String, price_cents: Long, o_orderkey: Long)
  /** Current per-nation top-k snapshot (ascending (price, key) order). */
  case class TopkSnapshot(nation: String, prices: Seq[Long], keys: Seq[Long])

  /** The k smallest distinct elements of `kept` ++ `batch`, ascending —
    * the merge step of every O(k)-state registry here ([[topkStream]],
    * [[annRegistryUpdate]], [[groupSampleStream]]). The distinct swallows
    * redelivered elements, so the merge is at-least-once safe. */
  private def smallestK[A: Ordering](kept: Seq[A], batch: Iterator[A],
      k: Int): Seq[A] =
    (kept.iterator ++ batch).toSeq.distinct.sorted.take(k)

  /** Streaming bounded top-k — the online twin of `q_topk_bounded` (and
    * of the ANN tier's `topk_min` aggregate): per nation, maintain the k
    * lexicographically smallest (price, key) pairs as orders arrive,
    * emitting the refreshed snapshot each trigger. State per group is
    * the SAME bounded k-pair structure the batch aggregate carries —
    * O(k), independent of stream length — so the leaderboard never
    * replays history. Re-delivered pairs are swallowed by the distinct
    * merge (at-least-once safe), mirroring `winnowNovel`'s redelivery
    * contract. Streaming == batch pinned in StreamingSpec against the
    * same merge computed in one pass. */
  def topkStream(orders: Dataset[PricedOrder], k: Int = 3): Dataset[TopkSnapshot] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.nation)
      .mapGroupsWithState[Seq[(Long, Long)], TopkSnapshot](
        GroupStateTimeout.NoTimeout()) {
        (nation: String, batch: Iterator[PricedOrder], state: GroupState[Seq[(Long, Long)]]) =>
          val merged = smallestK(state.getOption.getOrElse(Seq.empty),
            batch.map(o => (o.price_cents, o.o_orderkey)), k)
          state.update(merged)
          TopkSnapshot(nation, merged.map(_._1), merged.map(_._2))
      }
  }

  /** A funnel-relevant event (the q_window_funnel input shape).
    * `event_id` makes replay order total and dedup exact: the batch twins
    * order by (t_us, event_id), so two distinct same-type events in one
    * microsecond stay distinct here too, and same-timestamp ties across
    * types break by id — not by an arbitrary type code. */
  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String, event_id: Long)
  /** A user's current funnel position; absent stages read −1. */
  case class FunnelSnap(user_id: Long, stage: Int, t1: Long, t2: Long,
                        t3: Long)

  /** Streaming twin of `Relational.qWindowFunnel`: per-user anchored-
    * window funnel maintained with `mapGroupsWithState`, re-emitting the
    * user's stage snapshot on every update. State is the user's ordered
    * (µs, stage-code) funnel events, and the stage chain (earliest view;
    * earliest click in (t1, t1+W]; earliest purchase in (t2, t1+W]) is
    * recomputed over it per batch — every stage is a MIN over value
    * predicates, so the result is identical for ANY arrival order or
    * batch split, including a late-arriving EARLIER view that re-anchors
    * the whole window (the case an O(1) incremental state machine gets
    * wrong). Streaming == batch is pinned in StreamingSpec under a
    * deliberately order-shuffled feed. At 100 TB the buffer prunes to
    * [t1, t1+W] once the watermark passes t1+W (bounded state per
    * user); the full-buffer spelling here is the verifiable contract. */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelSnap] = {
    import events.sparkSession.implicits._
    val W = graft.queries.Relational.FunnelWindowUs
    val code = Map("view" -> 1, "click" -> 2, "purchase" -> 3)
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Seq[(Long, Long, Int)], FunnelSnap](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[FunnelEvent],
         state: GroupState[Seq[(Long, Long, Int)]]) =>
          // buffer rows are (t_us, event_id, code): dedup on the event id —
          // redelivery collapses, two distinct same-µs events do NOT
          val buf = (state.getOption.getOrElse(Seq.empty) ++
            batch.flatMap(e =>
              code.get(e.event_type).map(c => (tsMicros(e.ts), e.event_id, c))))
            .distinct.sorted
          state.update(buf)
          val t1 = buf.collectFirst { case (t, _, 1) => t }
          val t2 = t1.flatMap(a =>
            buf.collectFirst { case (t, _, 2) if t > a && t <= a + W => t })
          val t3 = t2.flatMap(b =>
            buf.collectFirst { case (t, _, 3) if t > b && t <= t1.get + W => t })
          val stage =
            if (t3.isDefined) 3 else if (t2.isDefined) 2
            else if (t1.isDefined) 1 else 0
          FunnelSnap(uid, stage, t1.getOrElse(-1L), t2.getOrElse(-1L),
            t3.getOrElse(-1L))
      }
  }

  /** Per-user CEP snapshot emitted by [[patternStream]]. */
  case class PatternSnap(user_id: Long, n_purchases: Long, n_matched: Long,
                         first_match_us: Long)

  /** [[patternStream]] state: the automaton's fold over the FROZEN prefix
    * (counts + last view/error timestamps) plus the still-mutable
    * `pending` suffix of (t_us, event_id, code) rows. */
  case class PatternState(n_purchases: Long, n_matched: Long,
                          first_match_us: Long, last_v: Long, last_e: Long,
                          pending: Seq[(Long, Long, Int)])

  /** The CEP automaton of `Analytics.qEventPattern` as a left fold:
    * events MUST arrive sorted by (t_us, event_id) — the batch twin's
    * window order. Returns the summary after consuming `es`. */
  private[graft] def foldPattern(s0: PatternState, es: Seq[(Long, Long, Int)],
                          w: Long): PatternState = {
    var lastV = s0.last_v; var lastE = s0.last_e
    var nP = s0.n_purchases; var nM = s0.n_matched
    var firstM = s0.first_match_us
    es.foreach { case (t, _, c) =>
      if (c == 3) {
        nP += 1
        if (lastV >= 0 && lastE < lastV && t - lastV <= w) {
          nM += 1; if (firstM < 0) firstM = t
        }
      }
      if (c == 1) lastV = t
      if (c == 2) lastE = t
    }
    PatternState(nP, nM, firstM, lastV, lastE, Seq.empty)
  }

  /** One [[patternStream]] micro-batch update for a single user:
    * merge the batch's (t_us, event_id, code) rows into the pending
    * suffix (dedup by id; drop sub-cutoff stragglers — they are older
    * than the watermark, so discarding them is the declared contract),
    * freeze everything at t ≤ watermark − w into the summary, and replay
    * the suffix for the snapshot. Extracted so PropertiesSpec can
    * randomized-test the invariant that matters: for ANY batch split
    * with lateness bounded by the watermark, the final snapshot equals
    * the one-shot batch automaton over all events. */
  private[graft] def patternStep(prev: PatternState,
      batch: Seq[(Long, Long, Int)], wmUs: Long,
      w: Long): (PatternState, PatternSnap) = {
    val cutoff = if (wmUs > 0L) wmUs - w else Long.MinValue
    val pending = (prev.pending ++ batch.filter(_._1 > cutoff))
      .distinct.sorted
    val (prefix, suffix) = pending.partition(_._1 <= cutoff)
    val frozen = foldPattern(prev, prefix, w)
    val snap = foldPattern(frozen, suffix, w)
    (frozen.copy(pending = suffix),
      PatternSnap(-1L, snap.n_purchases, snap.n_matched, snap.first_match_us))
  }

  /** STREAMING twin of `Analytics.qEventPattern` — the CEP automaton
    * (`view (anything but error)* purchase` within the hour, AFTER MATCH
    * SKIP TO NEXT ROW) evaluated online. The mutable state is the user's
    * pending (t_us, event_id, code) suffix, REPLAYED sorted by
    * (t_us, event_id) — the batch twin's exact window order — per batch,
    * so the snapshot is arrival-order-independent: a late error landing
    * between an already-matched view→purchase pair DEMOTES the match on
    * the next snapshot, and a late view can create one. Dedup is on the
    * event id (`.distinct` over (t, id, code)), so at-least-once
    * redelivery is idempotent while two distinct same-type events in the
    * same microsecond both count — exactly the batch semantics.
    *
    * State is BOUNDED when the input carries an event-time watermark:
    * every event at t ≤ watermark − W is folded into the frozen
    * [[PatternState]] summary (fold composition is exact — replay(all) ≡
    * fold(prefix) then replay(suffix)), and only the trailing window
    * stays materialized. Safe because Spark drops input older than the
    * watermark before this operator, so nothing can ever land inside the
    * frozen prefix; an event at t > watermark − W can still interact with
    * future purchases (t − lastV ≤ W), so it stays pending. Without a
    * watermark (`getCurrentWatermarkMs` = 0) no pruning happens and the
    * full-history replay contract holds verbatim. */
  def patternStream(events: Dataset[FunnelEvent]): Dataset[PatternSnap] = {
    import events.sparkSession.implicits._
    val W = graft.queries.Analytics.PatternWindowUs
    val code = Map("view" -> 1, "error" -> 2, "purchase" -> 3)
    events.groupByKey(_.user_id)
      .mapGroupsWithState[PatternState, PatternSnap](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[FunnelEvent],
         state: GroupState[PatternState]) =>
          val prev = state.getOption
            .getOrElse(PatternState(0L, 0L, -1L, -1L, -1L, Seq.empty))
          // getCurrentWatermarkMs THROWS (not 0) when the input stream has
          // no watermark — that's the full-replay mode
          val wmUs = try state.getCurrentWatermarkMs() * 1000L
            catch { case _: UnsupportedOperationException => 0L }
          val rows = batch.flatMap(e =>
            code.get(e.event_type).map(c => (tsMicros(e.ts), e.event_id, c)))
            .toSeq
          val (next, snap) = patternStep(prev, rows, wmUs, W)
          state.update(next)
          snap.copy(user_id = uid)
      }
  }

  /** Open-session accumulator carried in the state store (one per user). */
  case class SessionBuf(start_us: Long, last_us: Long, n: Long, sum: Double)
  /** A completed session, session_window-compatible (end = last + gap). */
  case class SessionOut(user_id: Long, session_start_us: Long,
                        session_end_us: Long, n_events: Long, sum_value: Double)

  private val GapUs = 6L * 3600L * 1000000L

  /** Custom sessionization via `flatMapGroupsWithState` + event-time
    * timeout: sessions close either inside a batch (a gap between
    * consecutive events) or when the watermark passes last_event + gap
    * (timeout fires with an empty batch). Semantics match
    * `session_window(ts, '6 hours')` exactly, including the merge-at-
    * exact-gap boundary (<=) — proven against the batch plan in
    * StreamingSpec. State per user is ONE small record; the watermark
    * bounds its lifetime. Use when windowed aggs can't express the
    * session logic (custom close conditions, per-session emissions). */
  def sessionizeStream(events: Dataset[UserEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[SessionBuf]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var open = state.getOption
          val evs = batch.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
          if (evs.isEmpty) {
            // timeout: watermark passed last + gap — the session is final
            open.foreach(b => out += SessionOut(uid, b.start_us, b.last_us + GapUs, b.n, b.sum))
            state.remove()
          } else {
            evs.foreach { e =>
              val t = tsMicros(e.ts)
              open = open match {
                case Some(b) if t - b.last_us <= GapUs => // merge (inclusive boundary)
                  Some(SessionBuf(b.start_us, math.max(b.last_us, t), b.n + 1,
                    math.round((b.sum + e.value) * 100).toDouble / 100))
                case Some(b) => // gap exceeded inside the batch: close + reopen
                  out += SessionOut(uid, b.start_us, b.last_us + GapUs, b.n, b.sum)
                  Some(SessionBuf(t, t, 1L, e.value))
                case None =>
                  Some(SessionBuf(t, t, 1L, e.value))
              }
            }
            val b = open.get
            state.update(b)
            // close when the watermark passes the session end
            state.setTimeoutTimestamp((b.last_us + GapUs) / 1000L)
          }
          out.iterator
      }
  }

  /** Streaming face of the winnowed fingerprints: (doc_id, fingerprint)
    * per distinct winnow-selected trigram hash of each arriving document.
    * The selection is `TextAnalysis.winnowRowLocal`, the row-local
    * spelling of the batch window selection (a window function cannot run
    * on an unbounded stream); StreamingSpec pins streaming == batch on
    * real corpus documents. */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.winnowRowLocal(docs,
      graft.core.TextPipeline.normalizedTokens(col("text")), "doc_id")

  /** Online fingerprint novelty: first-seen winnowed fingerprints across
    * all arrived documents — `dropDuplicates` on the fingerprint key, the
    * same key the batch `q_dedup_winnow` pair-join buckets on, so the
    * round-8 dedup rung composes with the streaming tier exactly like
    * latest-wins CDC does. State is O(distinct fingerprints) (~2/(W+1) of
    * the k-gram hashes); a production deployment bounds it with
    * `withWatermark` + `dropDuplicatesWithinWatermark` once fingerprints
    * carry arrival time — kept unbounded here to mirror the batch
    * corpus-wide dedup contract. */
  def winnowNovel(docs: DataFrame): DataFrame =
    winnowFingerprints(docs).dropDuplicates("fingerprint")

  /** A probe document's posting row (one per winnow fingerprint, the
    * doc's hashed verification store carried alongside) — the stream
    * element of [[dedupIndexProbeStream]]'s batch-internal registry. */
  case class ProbePosting(lang: String, fingerprint: Long, doc_id: Long,
                          n: Long, hs: Seq[Long])
  /** One verified near-duplicate hit emitted by
    * [[dedupIndexProbeStream]]: same contract as a q_dedup_persisted
    * row (keep-earlier — new_id is the greater id for batch-internal
    * pairs, the probing doc for index collisions). */
  case class ProbeHit(new_id: Long, dup_of: Long, kind: String,
                      jaccard: Double)

  /** STREAMING probe of the PERSISTED dedup index — the online twin of
    * `Dedup.qDedupPersisted`, the shape a 100 TB ingest actually runs:
    * file-arrival document batches are fingerprinted and probed against
    * the parquet index artifacts as they land.
    *
    *  - INDEX collisions are a pure stream-STATIC pipeline (the
    *    [[enrich]] pattern): the arriving doc's postings join the
    *    persisted `postings.parquet`, verification joins the persisted
    *    `shingles.parquet`, jaccard comes from the same
    *    `sorted_intersect_count` kernel as the batch plan — stateless,
    *    re-read per micro-batch, no watermark.
    *  - BATCH-internal pairs (two NEW docs duplicating each other,
    *    possibly across micro-batches and out of id order) are a
    *    per-(lang, fingerprint) GroupState registry: each fingerprint
    *    remembers the probe docs seen so far; a new arrival verifies
    *    against them in-state (the same sorted-intersect + jaccard ≥ T
    *    rule) and reports keep-earlier pairs by id, not arrival —
    *    a late-arriving LOWER id is reported as the dup_of side,
    *    exactly like the batch spelling's greatest/least. Redelivered
    *    docs are recognized by id and add no state and no re-emission.
    *
    * Delivery contract: hits are AT-LEAST-ONCE per pair — a pair
    * sharing several fingerprints (and an index hit redelivered with
    * its file) emits once per shared fingerprint/delivery; rows are
    * bit-identical each time, so the downstream consumer is idempotent
    * on the full row (the foreachBatch-upsert doctrine; FileStreamSpec
    * distincts the snapshot and pins it equal to q_dedup_persisted).
    * Exactly-once per pair would need a second stateful operator after
    * flatMapGroupsWithState, which Structured Streaming disallows.
    *
    * Scale stance (100 TB): the index half is NEVER re-fingerprinted —
    * per micro-batch text work is O(batch); registry state is
    * O(postings of probed docs), BOUNDED by `pairTtl`: batch-internal
    * pairing is scoped to an ingestion window (the [[sessionizeStream]]
    * timeout discipline, here on processing time since file-arrival
    * batches carry no event time), so a fingerprint idle past the TTL
    * drops its postings — a long-running stream holds only the active
    * window's state. `None` keeps the unbounded registry (the
    * replay-to-equality harness needs the full history; index
    * collisions, the dominant case, hold no state either way). */
  def dedupIndexProbeStream(docs: DataFrame, indexRoot: String,
      pairTtl: Option[java.time.Duration] = None): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val T = graft.queries.Dedup.JaccardT
    val idxFps = graft.io.Tables.read(s, s"$indexRoot/postings.parquet")
    val idxSs = graft.io.Tables.read(s, s"$indexRoot/shingles.parquet")
    val stored = docs
      .select(col("doc_id"), col("lang"),
        graft.core.TextPipeline.normalizedTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("lang"), col("w"),
        graft.queries.Dedup.storeHash(
          graft.core.TextPipeline.shinglesOf(col("w"))).as("hs"))
    val posted = graft.queries.TextAnalysis
      .winnowRowLocal(stored, col("w"), "doc_id", "lang", "hs")
      .withColumn("n", size(col("hs")).cast("long"))
    val idxHits = posted
      .join(idxFps.select(col("lang"), col("fingerprint"),
        col("doc_id").as("dup_of")), Seq("lang", "fingerprint"))
      .join(idxSs.select(col("doc_id").as("dup_of"), col("n").as("n_dup"),
        col("hs").as("hs_dup")), "dup_of")
      .select(col("doc_id").as("new_id"), col("dup_of"),
        graft.functions.VectorFunctions
          .sortedIntersectCount(col("hs"), col("hs_dup"))
          .cast("long").as("inter"), col("n"), col("n_dup"))
      .select(col("new_id"), col("dup_of"), lit("index").as("kind"),
        graft.queries.Dedup.jaccard(col("inter"), col("n"), col("n_dup"))
          .as("jaccard"))
      .filter(col("jaccard") >= T)
    val batchHits = posted
      .select(col("lang"), col("fingerprint"), col("doc_id"), col("n"),
        col("hs"))
      .as[ProbePosting]
      .groupByKey(p => (p.lang, p.fingerprint))
      .flatMapGroupsWithState[Seq[ProbePosting], ProbeHit](
        OutputMode.Append(),
        if (pairTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        dedupRegistryUpdate(pairTtl))
    idxHits.unionByName(batchHits.toDF())
  }

  /** The per-(lang, fingerprint) registry transition of
    * [[dedupIndexProbeStream]] — extracted so the timeout discipline and
    * the pairing/redelivery rules are unit-testable with
    * `TestGroupState` (deterministic, no wall-clock races; the e2e
    * file-source equality runs stay in FileStreamSpec). A timed-out
    * invocation frees the fingerprint's postings and emits nothing; a
    * data invocation verifies arrivals against the known postings
    * (keep-earlier by id), registers them (HashSet redelivery check —
    * O(1) per arrival), and re-arms the TTL. */
  private[graft] def dedupRegistryUpdate(pairTtl: Option[java.time.Duration])(
      key: (String, Long), batch: Iterator[ProbePosting],
      state: GroupState[Seq[ProbePosting]]): Iterator[ProbeHit] = {
    val T = graft.queries.Dedup.JaccardT
    if (state.hasTimedOut) {
      // fingerprint idle past the ingestion window: free its state
      state.remove()
      Iterator.empty
    } else {
      // each posting beside its store in the kernel's array form,
      // converted once per invocation
      val store = (p: ProbePosting) => ArrayData.toArrayData(p.hs.toArray)
      val known = scala.collection.mutable.ArrayBuffer.empty[(ProbePosting, ArrayData)]
      known ++= state.getOption.getOrElse(Seq.empty).map(p => p -> store(p))
      val ids = scala.collection.mutable.HashSet.empty[Long]
      known.foreach(p => ids += p._1.doc_id)
      val out = Seq.newBuilder[ProbeHit]
      // id order within the micro-batch: emission order is then
      // deterministic, and keep-earlier is by id regardless
      batch.toSeq.sortBy(_.doc_id).foreach { d =>
        if (ids.add(d.doc_id)) { // redelivery: no state, no re-emit
          val ds = store(d)
          known.foreach { case (e, es) =>
            val inter = SortedIntersectCount.mergeCount(ds, es, longs = true)
            val j = inter.toDouble / (d.n + e.n - inter) // Dedup.jaccard
            if (j >= T)
              out += ProbeHit(math.max(d.doc_id, e.doc_id),
                math.min(d.doc_id, e.doc_id), "batch", j)
          }
          known += d -> ds
        }
      }
      state.update(known.map(_._1).toSeq)
      pairTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
      out.result().iterator
    }
  }

  /** One scored ANN candidate flowing into the streaming top-k
    * registry. */
  case class AnnCand(q_id: Long, negq: Long, neighbor_id: Long)
  /** The current top-k snapshot for one query vector (ids in rank
    * order; cos_e12s = the 1e-12-quantized cosines, descending).
    * `version` counts this query's registry updates — a monotone
    * epoch, so a consumer selects the LATEST snapshot by max(version)
    * instead of assuming its sink preserves micro-batch insertion
    * order (round-12 ADVICE: memory-sink collect order is an
    * implementation detail).
    *
    * DUPLICATE-ROW CONTRACT (round-13 ADVICE): when a query's TTL
    * expires, `annRegistryUpdate`'s timeout branch frees the state and
    * re-emits the FINAL snapshot with its version UNCHANGED
    * (mapGroupsWithState must return a row on timeout) — so a sink may
    * hold two identical rows for one (q_id, version). That is exactly
    * idempotent under the max-version selection rule above; a consumer
    * must NOT assert (q_id, version) uniqueness or count rows per
    * query. Consumers needing a close signal should treat the repeat
    * of an already-seen version as the terminal marker. */
  case class AnnTopkSnap(q_id: Long, neighbor_ids: Seq[Long],
                         cos_e12s: Seq[Long], version: Long)

  /** Candidate fragment of the ANN probe, ONE definition for batch and
    * streaming: per arriving query vector, pick the NProbe nearest
    * persisted coarse cells PER ROW (centroids ride along as one
    * broadcast array column; selection is an array sort of
    * (negq, cell) structs — no window, so the identical expression runs
    * on an unbounded stream), fan out to the static cell-tagged corpus
    * (a stream-static join re-read per micro-batch), and score each
    * candidate with the fused cosine kernel quantized to the 1e-12
    * integer grid — the key both the batch `topk_min` aggregate and the
    * streaming GroupState registry rank by, so the two faces cannot
    * disagree on order. */
  def annProbeCands(queries: DataFrame, coarse: DataFrame,
      index: DataFrame): DataFrame = {
    val negq = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      round(-graft.functions.VectorFunctions.cosineSim(a, b) * 1e12)
        .cast("long")
    val cs = coarse
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cs"))
    queries.crossJoin(broadcast(cs))
      .select(col("q_id"), col("q_v"),
        transform(
          slice(array_sort(transform(col("cs"),
            c => struct(negq(col("q_v"), c.getField("cv")).as("nq"),
              c.getField("cell").as("cell")))),
            1, graft.queries.Similarity.NProbe),
          p => p.getField("cell")).as("cells"))
      .select(col("q_id"), col("q_v"), explode(col("cells")).as("ivf_cell"))
      .join(index, "ivf_cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), negq(col("v"), col("q_v")).as("negq"),
        col("vec_id").as("neighbor_id"))
  }

  /** BATCH face of the ANN probe: [[annProbeCands]] + the bounded
    * `topk_min` aggregate, exploded to (q_id, rank, neighbor_id,
    * cos_e12) rows — registered as `q_ann_stream_probe`
    * (Similarity.qAnnStreamProbe) so the fragment both faces share is
    * oracle-gated on every verify run. */
  def annProbeTopk(queries: DataFrame, coarse: DataFrame,
      index: DataFrame): DataFrame =
    annProbeCands(queries, coarse, index)
      .groupBy(col("q_id"))
      .agg(graft.functions.VectorFunctions.topkMin(
        col("negq"), col("neighbor_id"),
        graft.queries.Similarity.TopK).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"),
        (-col("col.score")).as("cos_e12"))
      .orderBy("q_id", "rank")

  /** STREAMING face of the ANN probe — the online twin of
    * [[annProbeTopk]] over a query-vector arrival stream: the SAME
    * candidate fragment feeds a per-q_id GroupState registry holding
    * the k smallest (negq, neighbor_id) pairs seen so far (the
    * [[groupSampleStream]] bounded-selection contract — O(k) state per
    * query, `distinct` absorbs redelivered files), re-emitting the
    * snapshot on every update. Because the selection key is the same
    * quantized integer both faces rank by, the snapshot after all
    * arrivals equals the batch face row for row. */
  def annProbeStream(queries: DataFrame, coarse: DataFrame,
      index: DataFrame,
      queryTtl: Option[java.time.Duration] = None): Dataset[AnnTopkSnap] = {
    import queries.sparkSession.implicits._
    val k = graft.queries.Similarity.TopK
    annProbeCands(queries, coarse, index).as[AnnCand]
      .groupByKey(_.q_id)
      .mapGroupsWithState[(Long, Seq[(Long, Long)]), AnnTopkSnap](
        if (queryTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        annRegistryUpdate(k, queryTtl))
  }

  /** The per-q_id registry transition of [[annProbeStream]] — extracted
    * for `TestGroupState` unit tests (the dedupRegistryUpdate
    * convention). A timed-out invocation frees the query's state and
    * re-emits its final snapshot (idempotent for max-version consumers;
    * mapGroupsWithState must return a row); a data invocation merges the
    * bounded top-k, bumps the snapshot version, and re-arms the TTL. */
  private[graft] def annRegistryUpdate(k: Int,
      queryTtl: Option[java.time.Duration])(
      q: Long, batch: Iterator[AnnCand],
      state: GroupState[(Long, Seq[(Long, Long)])]): AnnTopkSnap = {
    val (ver, kept) = state.getOption.getOrElse((0L, Seq.empty[(Long, Long)]))
    if (state.hasTimedOut) {
      state.remove()
      AnnTopkSnap(q, kept.map(_._2), kept.map(-_._1), ver)
    } else {
      val merged = smallestK(kept, batch.map(c => (c.negq, c.neighbor_id)), k)
      state.update((ver + 1, merged))
      queryTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
      AnnTopkSnap(q, merged.map(_._2), merged.map(-_._1), ver + 1)
    }
  }

  /** The current per-fingerprint SURVIVOR emitted by
    * [[corpusPipelineStream]] — min-doc_id-wins, the batch capstone's
    * canonical-document rule. */
  case class CorpusSurvivor(fp: String, doc_id: Long, lang: String,
                            n_tokens: Long, split: String)

  /** STREAMING twin of `Corpus.qCorpusPipeline` — the corpus-prep
    * capstone run online over a document-arrival stream: the SAME
    * redaction, tokenizer, token-length quality gate and deterministic
    * hash split as the batch plan (shared Column expressions —
    * `Corpus.pipelineRedact` / `pipelineSplit` — so the spellings cannot
    * drift), then exact-fingerprint dedup as stateful min-doc_id
    * survivor selection per fingerprint. Emits the fingerprint's current
    * survivor on every update: a late-arriving LOWER doc_id replaces the
    * survivor (its lang/split/token count swap in), exactly like the
    * batch window's min(doc_id) canon — `dropDuplicates` (first-arrival
    * wins) would get this wrong under out-of-order delivery. The final
    * (split, lang) rollup is the stateless aggregation a deployment runs
    * downstream of the survivor feed; FileStreamSpec performs it on the
    * snapshot and pins streaming == batch.
    *
    * The quality-gate bounds arrive as parameters — the profiling-pass
    * side input of an online run (a stream cannot take its own global
    * percentiles); the spec derives them from the same percentile
    * expressions the batch plan uses. State is O(distinct fingerprints)
    * × one row. */
  def corpusPipelineStream(docs: DataFrame, p10: Double,
      p90: Double): Dataset[CorpusSurvivor] = {
    import docs.sparkSession.implicits._
    val cleaned = docs
      .select(col("doc_id"), col("lang"),
        graft.queries.Corpus.pipelineRedact(col("text")).as("clean_text"))
      .select(col("doc_id"), col("lang"),
        graft.core.TextPipeline.normalizedTokens(col("clean_text")).as("w"))
      .select(col("doc_id"), col("lang"),
        size(col("w")).cast("long").as("nt"),
        graft.core.TextPipeline.exactFingerprint(col("w")).as("fp"))
      .filter(col("nt") >= p10 && col("nt") <= p90)
      .select(col("fp"), col("doc_id"), col("lang"),
        col("nt").as("n_tokens"),
        graft.queries.Corpus.pipelineSplit(col("doc_id")).as("split"))
      .as[CorpusSurvivor]
    cleaned.groupByKey(_.fp)
      .mapGroupsWithState[CorpusSurvivor, CorpusSurvivor](
        GroupStateTimeout.NoTimeout()) {
        (fp: String, batch: Iterator[CorpusSurvivor],
         state: GroupState[CorpusSurvivor]) =>
          val best = (state.getOption.iterator ++ batch)
            .minBy(_.doc_id)
          state.update(best)
          best
      }
  }

  /** A document key arriving on the sampling stream (text already
    * reduced to its selection key upstream). */
  case class SampleDoc(lang: String, doc_id: Long, h: Long)
  /** The current k-sample snapshot for one language. */
  case class SampleSnap(lang: String, doc_ids: Seq[Long])

  /** STREAMING twin of `Corpus.qGroupSample` — the deterministic
    * k-per-group sample maintained ONLINE: state per language is the k
    * smallest (h32(doc_id), doc_id) pairs seen so far (the same O(k)
    * bounded-selection contract as the batch `topk_min` aggregate, here
    * as explicit GroupState), re-emitted on every update. Because the
    * selection key is a content-independent hash, the snapshot after any
    * prefix of the stream equals the batch sample of exactly the
    * documents seen so far — arrival order never matters, and the final
    * snapshot equals `qGroupSample` on the full corpus (StreamingSpec).
    * State is O(k) per language by construction — no watermark needed. */
  def groupSampleStream(docs: Dataset[SampleDoc],
      k: Int): Dataset[SampleSnap] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .mapGroupsWithState[Seq[(Long, Long)], SampleSnap](
        GroupStateTimeout.NoTimeout()) {
        (lang: String, batch: Iterator[SampleDoc],
         state: GroupState[Seq[(Long, Long)]]) =>
          val merged = smallestK(state.getOption.getOrElse(Seq.empty),
            batch.map(d => (d.h, d.doc_id)), k)
          state.update(merged)
          SampleSnap(lang, merged.map(_._2))
      }
  }

  /** Per-day distinct-user HLL register table, ONE definition for batch
    * and streaming (the tumbling()/enrich() doctrine applied to the
    * sketch tier): `hll_det` (graft.plans.HllDet) registers per calendar
    * day over a (ts, user_id) relation. Batch face: the first stage of
    * `Analytics.qRollingDistinctApprox` / `q_hll_incremental`. Streaming
    * face: the SAME fragment under `readStream` in update mode — the
    * TypedImperativeAggregate's elementwise-max merge makes every
    * emitted snapshot a monotone refinement (register sums only grow),
    * so a consumer folds updates by keeping the max-sum row per day and
    * the final snapshot equals the batch table (StreamingSpec).
    *
    * Scale stance: streaming state is ONE 256-byte register array per
    * open day — bounded by the calendar, not the user stream, so no
    * watermark is required for state health (a production job still
    * closes days downstream; the register table itself is the
    * persistable incremental state `q_hll_incremental` stores). */
  def hllDayRegisters(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(graft.functions.VectorFunctions.hllDet(
        graft.core.TextPipeline.h32(col("user_id").cast("string"))).as("regs"))

  /** Streaming face of the CMS counter grid (the frequency dual of
    * [[hllDayRegisters]]): (i, c, cnt) over a documents stream. A
    * streaming plan cannot stack two aggregations, so this spelling
    * hashes per bigram OCCURRENCE and runs ONE groupBy — the batch tier
    * (`Analytics.cmsSketch` over `cmsKeyCounts`) aggregates to distinct
    * keys first and hashes each key once; AnalyticsSpec pins the two
    * spellings counter-equal (sums over occurrences == sums over
    * (key, n)). Under update mode every emitted counter is a monotone
    * refinement (counts only grow), so a consumer folds updates by
    * max per cell and the final snapshot equals the batch grid
    * (StreamingSpec).
    *
    * Scale stance: streaming state is the fixed d×w = 1024-cell grid —
    * bounded by the sketch geometry, not the corpus, so no watermark is
    * needed for state health; the grid is the persistable generation
    * the q_cms store rungs maintain. */
  def cmsCounters(docs: DataFrame): DataFrame = {
    import graft.queries.Analytics
    Analytics.cmsCellExpand(Analytics.cmsKeyStream(docs))
      .groupBy(col("i"), col("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming face of the Bloom membership bits (the membership dual
    * of [[cmsCounters]]): (idx, bits) over an ORDERS stream, the build
    * predicate and the bit geometry both the shared batch spellings
    * (`Analytics.bloomBits` — ONE aggregation, so the fragment is
    * legal under `readStream`). Under update mode every emitted row is
    * a monotone refinement in the bitwise-superset order — bits only
    * GAIN — but unlike the CMS counters that order is NOT numeric
    * (bit 63 makes a long negative), so the consumer fold is bit_or
    * per idx, never max (StreamingSpec pins streaming ≡ batch under
    * exactly that fold, across a forced cross-batch bit merge).
    *
    * Scale stance: streaming state is the fixed ≤ M/64 = 1024-row bit
    * grid — bounded by the filter geometry, not the stream; the grid
    * is the persistable generation `q_bloom_incremental` stores. */
  def bloomBuildBits(orders: DataFrame): DataFrame = {
    import graft.queries.Analytics
    Analytics.bloomBits(
      orders.filter(col("o_totalprice") > Analytics.HighValue)
        .select(col("o_orderkey").as("k")))
  }

  /** Streaming face of EXACT dedup (the q_dedup_exact fingerprint under
    * `readStream`): each arriving document fingerprints through the one
    * shared tokenizer+md5 spelling and `dropDuplicates` keeps the FIRST
    * arrival per fingerprint — which, on a stream ordered by doc_id,
    * is exactly the batch rung's min-doc_id canonical, so StreamingSpec
    * pins streaming survivors ≡ batch canonicals across a split that
    * straddles a duplicate pair (the cross-batch state merge).
    *
    * Scale stance: state is one row per DISTINCT fingerprint — the
    * streaming twin of the persisted exact-dedup index
    * (q_dedup_index_add); a production job bounds it with
    * dropDuplicatesWithinWatermark once the dedup horizon is an
    * event-time window rather than all history. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.core.TextPipeline.exactFingerprint(
          graft.core.TextPipeline.normalizedTokens(col("text")))
          .as("fingerprint"))
      .dropDuplicates("fingerprint")

  /** Convenience: run a streaming DataFrame to an in-memory table and block
    * until all available input is processed (test/dev harness). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q
  }
}
