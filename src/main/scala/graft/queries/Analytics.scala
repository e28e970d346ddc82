package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Lineage, TextPipeline}
import graft.io.Tables
import graft.queries.Ingest.erasureSubject

/** M9 — search-ranking, runtime-filter, and segmentation analytics (pure
  * extension surface; the reference has nothing beyond word count,
  * SURVEY.md §2.2).
  *
  * Cross-engine float discipline (the q_stats / q_pagerank rules):
  * every order-dependent float reduction quantizes to BIGINT first
  * (commutative, partition-order-free), every scalar float expression is
  * spelled with the identical operation tree in both engines, and every
  * ranking compares integers or rounded floats with an integer
  * tie-break.
  */
object Analytics {

  /** BM25(k1=1.2, b=0.75) document ranking for a fixed 3-term query (the
    * corpus's three highest-df terms — deterministic, ties by word).
    * Uses the RATIONAL idf (N−df+0.5)/(df+0.5) — no transcendental log,
    * whose libm rounding differs across engines (the q_tfidf_top rarity
    * trick). Per-term scores quantize to 1e-9 BIGINT before the per-doc
    * sum, so the 3-term reduction is exact integer math.
    *
    * Scale stance: tf/df/dl are the standard one-shuffle word aggregates;
    * N, avgdl, and the 3 query terms ride as broadcast scalar/dimension
    * subqueries; the final ranking is a TakeOrderedAndProject over
    * doc-cardinality rows. Nothing quadratic, nothing driver-side. */
  /** Shared lexical base of [[qBm25Top]] and [[qHybridRrf]]: per-(doc,
    * word) tf (checkpointed once for its several consumers), doc lengths,
    * corpus stats, and the deterministic top-3-df query term set. */
  private def lexBase(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextPipeline.normalizedTokens(col("text")).as("w"))
    val dl = docs.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val words = docs.select(col("doc_id"), explode(col("w")).as("word"))
    // materialize tf once for its three consumers (scores, df, and via
    // df the query terms — see TextAnalysis.qTfidfTop): one tokenize
    // pass; df = rows of tf per word, no distinct
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      // sf0.1 median, cuts on/off: q_hybrid_rrf 1.52/1.89 s, q_bm25_top 1.47/1.52 s
      .transform(Lineage.cut)
    val dfq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val qterms = dfq.orderBy(col("df").desc, col("word").asc).limit(3)
      .select(col("word"), col("df"))
    (tf, dl, stats, qterms)
  }

  /** Per-doc 1e-9-quantized BM25 total over the query terms — the
    * un-truncated score relation behind [[qBm25Top]]'s top-10 and
    * [[qHybridRrf]]'s ranker A. */
  private def bm25Sq(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      qterms: DataFrame): DataFrame =
    tf.join(broadcast(qterms), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5))
      .withColumn("tfpart",
        (col("tf").cast("double") * 2.2)
          / (col("tf").cast("double")
            + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .select(col("doc_id"),
        round(col("idf") * col("tfpart") * 1e9).cast("long").as("q"))
      .groupBy("doc_id").agg(sum(col("q")).as("sq"))

  def qBm25Top(s: SparkSession, dir: String): DataFrame = {
    val (tf, dl, stats, qterms) = lexBase(s, dir)
    bm25Sq(tf, dl, stats, qterms)
      .orderBy(col("sq").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"),
        round(col("sq").cast("double") / 1e9, 6).as("bm25"))
  }

  /** RRF depth (per-ranker list length) and the canonical smoothing
    * constant from Cormack, Clarke & Büttcher, SIGIR 2009. */
  private val RrfDepth = 20
  private val RrfK = 60

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    * Büttcher, "Reciprocal Rank Fusion outperforms Condorcet and
    * individual rank learning methods", SIGIR 2009) — the combinator
    * every production search stack ships for fusing heterogeneous
    * rankers: each ranker contributes 1/(K + rank) for its top-[[RrfDepth]]
    * docs, fused score = the sum, no score calibration needed (ranks
    * only). Ranker A = BM25 (length-normalized); ranker B = raw
    * query-term frequency (deliberately NOT normalized — the naive
    * lexical ranker BM25 exists to improve on, so the two genuinely
    * disagree and fusion is non-vacuous, which AnalyticsSpec pins).
    *
    * Exactness: ranks are integers with total-order tie-breaks
    * (score DESC, doc_id ASC); each contribution is quantized
    * round(1e9/(K+rank)) BIGINT — both engines evaluate the same 41
    * possible rational values through IEEE double division and round,
    * so the fused sum is exact integer math (the q_stats rule).
    *
    * Scale stance (100 TB): both rankers end in `orderBy().limit(20)` —
    * TakeOrderedAndProject, per-partition top-k then a 20-row driver
    * merge, NO full sort, NO corpus-wide window (the rank attachment
    * window runs over the ≤20-row truncated lists); the fusion join is
    * 20×20 rows. The tf/df base is the same one-shuffle word aggregate
    * BM25 already pays, shared via [[lexBase]]. */
  def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, dl, stats, qterms) = lexBase(s, dir)
    // rank attachment: top-Depth via TakeOrderedAndProject FIRST, then a
    // row_number window over the surviving <= Depth rows only
    def ranked(scores: DataFrame, out: String): DataFrame = {
      val w = Window.orderBy(col("s").desc, col("doc_id").asc)
      scores.orderBy(col("s").desc, col("doc_id").asc).limit(RrfDepth)
        .withColumn(out, row_number().over(w))
        .select(col("doc_id"), col(out))
    }
    val a = ranked(bm25Sq(tf, dl, stats, qterms)
      .select(col("doc_id"), col("sq").as("s")), "bm25_rank")
    val b = ranked(tf.join(broadcast(qterms), "word")
      .groupBy("doc_id").agg(sum(col("tf")).as("s")), "tf_rank")
    def contrib(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(round(lit(1e9) / (rank.cast("double") + RrfK)).cast("long"), lit(0L))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("rrf_q", contrib(col("bm25_rank")) + contrib(col("tf_rank")))
      .orderBy(col("rrf_q").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("bm25_rank"), col("tf_rank"),
        round(col("rrf_q").cast("double") / 1e9, 6).as("rrf"))
  }

  // Bloom-filter geometry: M bits in M/64 longs, K salted h32 hashes.
  private val BloomM = 65536
  private val BloomK = 3
  private[graft] val HighValue = 400000.0

  private def bloomHashes(key: org.apache.spark.sql.Column) =
    array((0 until BloomK).map(i =>
      pmod(TextPipeline.h32(concat(lit(s"b$i:"), key.cast("string"))),
        lit(BloomM))): _*)

  /** Semi join driven by a BLOOM RUNTIME FILTER — the 100 TB pattern for
    * probing a huge fact table against a selective build side without
    * shuffling the fact table first: revenue of lineitems belonging to
    * high-value orders (o_totalprice > 400000, ~15% of orders).
    *
    *  1. build: each qualifying o_orderkey sets K=3 salted h32 bits in an
    *     M=65536-bit filter, materialized as ≤1024 (idx, bits) longs via
    *     a bit_or aggregate — mergeable, partition-order-free, tiny;
    *  2. probe: DISTINCT l_orderkey values check all K bits against the
    *     broadcast filter — survivors ≈ true matches + ~0.3% false
    *     positives, so the exact semi join that follows runs on ~15% of
    *     the key space instead of 100%;
    *  3. exact: surviving keys semi-join the build keys (no false
    *     negatives possible — a Bloom filter never drops a member), then
    *     lineitem semi-joins the verified keys.
    *
    * The oracle is the PLAIN semi join — bloom pruning is a pure
    * optimization, proven result-identical here (oracle hash) and in
    * AnalyticsSpec (bloom plan == direct semi join, with real pruning). */
  /** Build side: qualifying order keys (selective — ~15% of orders). */
  private[graft] def highValueKeys(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_totalprice") > HighValue)
      .select(col("o_orderkey"))

  /** Pre-aggregate Bloom cells of a 1-column `k` key relation: one
    * (idx, bits) row per key and hash, `bits` holding that hash's single
    * bit of word `idx` — the bit geometry [[bloomBits]] and
    * [[bloomMerge]] share. */
  private def bloomCells(keys: DataFrame): DataFrame =
    keys.select(explode(bloomHashes(col("k"))).as("h"))
      .select((col("h") / 64).cast("long").as("idx"),
        expr("shiftleft(1L, cast(h % 64 as int))").as("bits"))

  /** OR-fold of (idx, bits) rows to one word per idx. */
  private def bloomFold(cells: DataFrame): DataFrame =
    cells.groupBy("idx").agg(bit_or(col("bits")).as("bits"))

  /** (idx, bits) Bloom-filter rows of a 1-column `k` key relation —
    * ≤ M/64 = 1024 longs, built by a bit_or aggregate: mergeable,
    * partition-order-free, tiny. ONE spelling for the in-plan filter
    * and the persisted store ([[bloomStoreDir]]), so the bit geometry
    * cannot drift between them. */
  private[graft] def bloomBits(keys: DataFrame): DataFrame =
    bloomFold(bloomCells(keys))

  /** Stored (idx, bits) words OR-merged with the cells of a delta `k`
    * key relation in ONE bit_or fold — bit-identical to folding the
    * delta first and merging after, since OR is associative, but one
    * shuffle instead of two. */
  private[graft] def bloomMerge(
      stored: DataFrame, deltaKeys: DataFrame): DataFrame =
    bloomFold(stored.select(col("idx"), col("bits"))
      .unionByName(bloomCells(deltaKeys)))

  /** Distinct probe keys surviving a broadcast (idx, bits) Bloom filter
    * (true matches + false positives; never drops a member). */
  private def bloomCandidatesFrom(
      s: SparkSession, dir: String, bloom: DataFrame): DataFrame =
    Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      .select(col("l_orderkey"), explode(bloomHashes(col("l_orderkey"))).as("h"))
      .select(col("l_orderkey"), (col("h") / 64).cast("long").as("idx"),
        expr("shiftleft(1L, cast(h % 64 as int))").as("mask"))
      .join(broadcast(bloom), Seq("idx"), "left")
      .withColumn("hit",
        coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask")) =!= 0)
      .groupBy("l_orderkey").agg(expr("bool_and(hit)").as("all_hit"))
      .filter(col("all_hit"))
      .select(col("l_orderkey"))

  /** Stages 1–2: distinct probe keys surviving the broadcast Bloom filter
    * (true matches + false positives; never drops a member). Exposed so
    * AnalyticsSpec can assert both containment and REAL pruning. */
  private[graft] def bloomCandidates(s: SparkSession, dir: String): DataFrame =
    bloomCandidatesFrom(s, dir,
      bloomBits(highValueKeys(s, dir).select(col("o_orderkey").as("k"))))

  /** Stage 3 tail shared by [[qBloomSemi]] and [[qBloomIncremental]]:
    * exact semi-join verification of the candidates (false positives
    * drop; no false negatives exist to recover), then the lineitem
    * aggregate. */
  private def bloomSemiAgg(
      s: SparkSession, dir: String, candidates: DataFrame): DataFrame = {
    val verified = candidates
      .join(highValueKeys(s, dir),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    Tables.lineitem(s, dir)
      .join(verified, Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }

  def qBloomSemi(s: SparkSession, dir: String): DataFrame =
    bloomSemiAgg(s, dir, bloomCandidates(s, dir))

  /** Persisted Bloom store root — the historical wave's filter bits
    * (build keys with o_orderkey mod 4 ≠ 3, the lifecycle arrival-wave
    * convention), written once per fixture dir. */
  private[graft] def bloomStoreDir(s: SparkSession, dir: String): String =
    Tables.store("bloomstore", dir) { root =>
      Tables.write(bloomBits(highValueKeys(s, dir)
          .filter(pmod(col("o_orderkey"), lit(4)) =!= 3)
          .select(col("o_orderkey").as("k"))), s"$root/bits_hist.parquet")
    }

  /** Incremental Bloom maintenance — the persisted-store doctrine on the
    * MEMBERSHIP sketch, and the monoid half of the store-algebra
    * taxonomy the CMS/quantile stores prove the group half of: Bloom
    * bits are OR-folds, so the store absorbs a delta batch by
    * elementwise bit_or (one union + ≤1024-row aggregate — history is
    * never re-scanned), but OR is NOT invertible — a set bit may be
    * owned by any number of keys — so Bloom erase must REBUILD from
    * surviving keys, exactly the HLL register doctrine
    * ([[qHllStoreErase]]) on bits instead of maxes. AnalyticsSpec pins
    * both halves: merged bits ≡ a from-scratch full build bit-for-bit,
    * and a concrete shared-bit witness (a subject and a survivor key
    * colliding on a cell) showing why clear-the-subject's-bits would
    * drop a surviving member — the false negative a Bloom filter must
    * never produce.
    *
    * The gated answer is the same revenue aggregate as [[qBloomSemi]]
    * (probe → exact verify → aggregate) driven by the MERGED filter;
    * the oracle is the plain semi join, so every verify re-proves the
    * store-merged filter is still result-identical — pruning with zero
    * false negatives.
    *
    * Scale stance (100 TB): the delta build scans only the arriving
    * batch; its pre-aggregate cells and the ≤1024 stored words go
    * through ONE bit_or fold ([[bloomMerge]]), whose partial aggregate
    * collapses each side map-side to ≤1024 rows before the single
    * shuffle; the probe stays a broadcast of 8 KB of bits against the
    * fact table — no shuffle of the probe side ever. */
  def qBloomIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = bloomStoreDir(s, dir)
    val merged = bloomMerge(Tables.read(s, s"$root/bits_hist.parquet"),
      highValueKeys(s, dir)
        .filter(pmod(col("o_orderkey"), lit(4)) === 3)
        .select(col("o_orderkey").as("k")))
    bloomSemiAgg(s, dir, bloomCandidatesFrom(s, dir, merged))
  }

  /** RFM customer segmentation: recency (last order date), frequency
    * (order count), monetary (exact cent total), each scored into
    * quintiles by ntile(5) over a TOTAL order (metric, then custkey — no
    * float ties), plus a rounded percent_rank on monetary. One shuffle
    * builds the per-customer aggregate; the three windows share one
    * unpartitioned sort over customer-cardinality rows (at scale the
    * scoring would grid-partition on a coarse metric bucket first). */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      // o_orderdate is TIMESTAMP_NTZ — cast to timestamp (session TZ
      // pinned UTC = wall-clock identity) before unix_micros
      .agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).as("r_us"),
        count(lit(1)).as("f"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast("long").as("m_cents"))
    val wR = Window.orderBy(col("r_us").asc, col("o_custkey").asc)
    val wF = Window.orderBy(col("f").asc, col("o_custkey").asc)
    val wM = Window.orderBy(col("m_cents").asc, col("o_custkey").asc)
    base.select(col("o_custkey"), col("r_us"), col("f"), col("m_cents"),
        ntile(5).over(wR).as("r_score"),
        ntile(5).over(wF).as("f_score"),
        ntile(5).over(wM).as("m_score"),
        round(percent_rank().over(wM), 6).as("m_pctile"))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("o_custkey")
  }

  /** Proportional stratified sampling: an EXACT ceil(20%) of each
    * language stratum, selected by content hash rank (reproducible on
    * any engine and any run — the q_sample_hash property, per-stratum).
    * The quota is pure integer math ((n+4) div 5) — no float ceil, whose
    * 0.2·n representation error flips boundary strata. Complements
    * q_lang_balance (equal allocation) with proportional allocation. */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextPipeline.h32(col("doc_id").cast("string")).as("h"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    val wCnt = Window.partitionBy(col("lang"))
    d.select(col("doc_id"), col("lang"),
        row_number().over(wRank).as("rn"),
        count(lit(1)).over(wCnt).as("n_lang"))
      .filter(col("rn") <= expr("(n_lang + 4) div 5"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("doc_id")
  }

  /** Gap-based sessionization core, factored so AnalyticsSpec can drive
    * crafted event streams through the exact production logic. A new
    * session starts at the first event and whenever the gap to the
    * previous event STRICTLY exceeds `gapUs` (an exactly-gap-long pause
    * continues the session — the same boundary StreamWindows' session
    * windows use). Both window functions share one (user, time) sort, so
    * the plan is a single Window node over one shuffle. */
  private[graft] def sessionize(ev: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("event_id").asc)
    val prev = lag(col("t_us"), 1).over(w)
    ev.withColumn("is_new",
        when(prev.isNull || col("t_us") - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t_us")).as("t_start_us"),
        max(col("t_us")).as("t_end_us"),
        count(when(col("event_type") === "purchase", lit(1))).as("n_purchases"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("t_start_us"), col("t_end_us"),
        (col("t_end_us") - col("t_start_us")).as("dur_us"),
        col("n_purchases"))
  }

  /** Batch sessionization of the event stream (30-minute inactivity gap)
    * — the offline twin of q_stream_sessions: one shuffle on user_id,
    * session assignment as pure window algebra (lag + running sum), then
    * a per-session rollup. At 100 TB nothing here is user-cardinality-
    * bound on the driver; sessions materialize distributed. */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    sessionize(
      Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("t_us")),
      1800000000L)
      .orderBy("user_id", "session_id")

  /** CDC change stream → SCD Type-2 dimension: compress each user's event
    * stream into change intervals. Row i survives iff its event_type
    * differs from the previous event's (run-length change detection via
    * lag); each survivor becomes a version row [valid_from, valid_to)
    * with valid_to = the NEXT change's timestamp (lead); the open current
    * version carries the classic 9999-12-31 high-date sentinel (NULL-free
    * output keeps the interval column hash-comparable). This is the
    * standard warehouse pattern for building a slowly-changing dimension
    * from a change-data-capture feed.
    *
    * Physical shape: both windows and the filter share the user_id hash
    * partitioning, so the whole query is ONE shuffle; the second Window
    * re-sorts its (already partitioned, filtered) input locally without a
    * second exchange. Per-user state never concentrates on the driver —
    * at 100 TB this is a pure window pipeline over the CDC feed's
    * partitioning. AnalyticsSpec pins the interval algebra: versions
    * tile each user's timeline without gaps, every event falls inside
    * the version interval carrying its type, and exactly one version
    * per user is open. */
  /** 9999-12-31T23:59:59Z in epoch micros — SCD-2 open-version sentinel. */
  private val Scd2HighDateUs = 253402300799000000L

  def qScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("event_id").asc)
    val changes = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val next = lead(col("t_us"), 1).over(w)
    changes
      .select(col("user_id"), col("event_type"),
        col("t_us").as("valid_from_us"),
        coalesce(next, lit(Scd2HighDateUs)).as("valid_to_us"),
        next.isNull.as("is_current"),
        row_number().over(w).as("version"))
      .orderBy("user_id", "version")
  }

  /** Lag-k autocorrelation of the daily event-count series (k = 1, 7 —
    * day-over-day persistence and weekly seasonality), the standard
    * first look at any operational time series. Two stages: (1) the
    * big-data step, one shuffle collapsing the event stream to
    * date-cardinality daily counts (map-side combined; at 100 TB this is
    * the only pass over the data); (2) lag alignment as an equi-join of
    * the tiny daily series against itself shifted by k — no window over
    * a single global partition, so nothing here ever concentrates in one
    * task. Pearson r comes from exact integer moments in DECIMAL(38,0)
    * (daily counts are integers; the round-11 sweep found the BIGINT
    * spelling's n·sxx and sx·sy epilogue products hitting their ceiling
    * near sf ≈ 5e3 — DuckDB's HUGEINT promotion hid it on the oracle
    * side); the one double division is spelled identically in the
    * oracle. The daily series is materialized once and feeds both sides
    * of every lag join. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
      // sf0.1 median, cuts on/off: 0.49/0.69 s
      .transform(Lineage.cut)
    Seq(1, 7).map { k =>
      val shifted = daily.select((col("day") + k).as("day"), col("x").as("y"))
      daily.join(shifted, "day")
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"),
          sum(col("y").cast(dec) * col("y")).as("syy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"))
        .select(lit(k).as("lag"), col("n").cast("long").as("n_pairs"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
            .as("autocorr"))
    }.reduce(_ unionAll _).orderBy("lag")
  }

  /** First-order Markov transition matrix of user behavior: for every
    * adjacent event pair in a user's timeline, count (from_type →
    * to_type) and row-normalize into transition probabilities — the
    * behavioral-model summary behind next-action prediction and anomaly
    * scoring. One user_id shuffle for the lead window (the only pass
    * over the event stream), then the matrix is |event_types|² rows —
    * constant-size at any corpus scale, so the row-total window over it
    * is free. The probability is an integer-ratio (n / row_total) in
    * double, spelled identically in the oracle. */
  def qMarkovTransition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("event_id").asc)
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_total").cast("double"), 6)
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Revenue concentration: the share of each market segment's revenue
    * captured by its top decile of customers — the inequality measure
    * behind key-account analysis and long-tail pricing. Everything is
    * integer until the final division: per-customer revenue accumulates
    * as round-to-cents BIGINT (order-free), the decile cut is the
    * ceiling-rank over a TOTAL order (revenue desc, custkey asc — no
    * ties, so the cut is deterministic in both engines), and the share
    * is one BIGINT/BIGINT division in double. Two shuffles at any
    * scale: orders→customer revenue rollup, then the per-segment
    * window; segments are few, but the window partitions by segment
    * AND the per-customer relation is already collapsed, so no
    * single-task hotspot grows with the order count. */
  def qRevenueConcentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy(col("segment"))
      .orderBy(col("rev_cents").desc, col("c_custkey").asc)
    rev
      .withColumn("rn", row_number().over(w))
      .withColumn("n_seg",
        count(lit(1)).over(Window.partitionBy(col("segment"))))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("rev_cents")).as("total_cents"),
        sum(when(col("rn") <= expr("(n_seg + 9) div 10"), col("rev_cents"))
          .otherwise(0L)).as("top_cents"))
      .select(col("segment"), col("n_cust"),
        expr("(n_cust + 9) div 10").as("top_k"),
        col("total_cents"), col("top_cents"),
        round(col("top_cents").cast("double") / col("total_cents").cast("double"), 6)
          .as("top_decile_share"))
      .orderBy("segment")
  }

  /** A/B experiment readout: deterministic arm assignment (user_id
    * parity — in production this is the hash-bucket split of
    * q_train_split), per-user conversion (a high-value purchase, so both
    * arms have genuine variance), and the two-proportion z-test on
    * conversion rates. Everything up to the
    * test statistic is exact integer counting in ONE pass over the
    * per-user rollup (conditional aggregates, no arm self-join); the z
    * arithmetic is a fixed double expression tree spelled identically
    * in the oracle. At 100 TB the pattern is the same two shuffles:
    * events→per-user, per-user→one row of counts. */
  def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90.0,
        1L).otherwise(0L)).as("conv"))
      .select((col("user_id") % 2).as("arm"), col("conv"))
    val counts = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"))
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val pp = (col("c0") + col("c1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    // degenerate inputs (empty corpus, all-or-none conversion) make the
    // pooled variance 0 — CASE-guard every division so those cases yield
    // NULL instead of an ANSI divide-by-zero (guards spelled identically
    // in the oracle; non-degenerate data never takes the NULL branch)
    val zOk = col("n0") > 0 && col("n1") > 0 &&
      col("c0") + col("c1") > 0 && col("c0") + col("c1") < col("n0") + col("n1")
    counts.select(col("n0"), col("c0"),
      when(col("n0") > 0, round(p0, 6)).as("p0"),
      col("n1"), col("c1"),
      when(col("n1") > 0, round(p1, 6)).as("p1"),
      when(col("n0") > 0 && col("n1") > 0, round(p1 - p0, 6)).as("lift"),
      when(zOk, round((p1 - p0) / sqrt(pp * (lit(1.0) - pp)
        * (lit(1.0) / col("n0").cast("double")
          + lit(1.0) / col("n1").cast("double"))), 6)).as("z"))
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    * Walker, WSDM'13) — the industry-standard upgrade to [[qAbTest]]'s
    * raw comparison: adjust each user's outcome by their PRE-period
    * behavior, Y′ = Y − θ(X − X̄), θ = cov(X,Y)/var(X), which removes
    * the between-user variance the pre-period predicts and leaves the
    * treatment effect untouched (E[X] is assignment-independent).
    * Pre/outcome split at the event-time midpoint (q_merge_compact's
    * cut), X/Y = per-user purchase cents per half, arm = user parity
    * (the same assignment q_ab_test reads).
    *
    * Exactness: everything is integer cents until the final reported
    * micros. θ uses the raw-moment identity (n·Σxy − Σx·Σy) /
    * (n·Σx² − (Σx)²) with DECIMAL(38,0) accumulation (q_stats rule),
    * reported as trunc-toward-zero micros via the (a − a%b)/b spelling —
    * exact and engine-identical even for negative numerators (both
    * engines' % carries the dividend sign; the final division is of an
    * exactly-divisible pair, so DuckDB's flooring `//` and Spark's
    * decimal divide agree). Adjusted per-arm means clear denominators
    * the same way: trunc((n·Σy_a·10⁶ − θ_µ·(n·Σx_a − n_a·Σx)) / (n·n_a)).
    * Truncated-θ CUPED is still exact CUPED — ANY fixed θ yields an
    * unbiased adjusted contrast; θ only tunes the variance.
    *
    * Scale stance: one per-user conditional-sum shuffle (map-side
    * combined) feeds BOTH the 1-row moment scalar and the per-arm
    * aggregate; the scalar rides a broadcast cross join. Two shuffles
    * total at any corpus size, nothing driver-side. */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
    val cutDf = e.agg(expr("min(us) + (max(us) - min(us)) div 2").as("cut_us"))
    val cents = when(col("event_type") === "purchase",
      round(col("value") * 100).cast("long")).otherwise(lit(0L))
    val perUser = e.crossJoin(broadcast(cutDf))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") <= col("cut_us"), cents).otherwise(lit(0L)))
          .as("x"),
        sum(when(col("us") > col("cut_us"), cents).otherwise(lit(0L)))
          .as("y"))
      .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
    val m = perUser.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x")).cast(d38).as("sx"), sum(col("y")).cast(d38).as("sy"),
      sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
      sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
      .select(col("n"), col("sx"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cxy"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("cxx"))
      .select(col("n"), col("sx"),
        when(col("cxx") =!= 0,
          expr("CAST((cxy * 1000000 - (cxy * 1000000) % cxx) / cxx AS BIGINT)"))
          .as("theta_micros"))
    perUser.groupBy(col("arm"))
      .agg(count(lit(1)).cast(d38).as("n_a"),
        sum(col("x")).cast(d38).as("sx_a"),
        sum(col("y")).cast(d38).as("sy_a"))
      .crossJoin(broadcast(m))
      .select(col("arm"),
        col("n_a").cast("long").as("n_users"),
        col("sx_a").cast("long").as("x_cents"),
        col("sy_a").cast("long").as("y_cents"),
        expr("""CAST((sy_a * 1000000 - (sy_a * 1000000) % n_a) / n_a
                AS BIGINT)""").as("raw_mean_micros"),
        expr("""CAST(((n * sy_a * 1000000 - theta_micros * (n * sx_a - n_a * sx))
                - (n * sy_a * 1000000 - theta_micros * (n * sx_a - n_a * sx))
                  % (n * n_a)) / (n * n_a) AS BIGINT)""").as("adj_mean_micros"),
        col("theta_micros"))
      .orderBy("arm")
  }

  /** Trailing 7-day rolling distinct users (the 7-day-active metric) per
    * observed day — the windowed-distinct shape that a naive
    * `COUNT(DISTINCT) OVER (RANGE 6 PRECEDING)` can't express at scale
    * (Spark refuses DISTINCT window aggregates; engines that accept it
    * re-scan the window per row).
    *
    * Plan: one distinct pass to (user, day) pairs, then each pair emits
    * its ≤7 report days via `sequence` + `explode` — a narrow
    * (user_id, date) stream, 7× the distinct-pair count regardless of raw
    * event volume — semi-joined against the broadcast observed-day
    * dimension, then one count-distinct per report day. At 100 TB the
    * raw events collapse to (user, day) in the first partial aggregate;
    * nothing downstream ever re-touches the event stream, and no
    * window function holds per-day user sets in executor memory.
    * Exact by declared contract; the sketch twin that serves the same
    * metric with one mergeable ~KB sketch per day is
    * [[qRollingDistinctApprox]]. */
  def qRollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val days = ud.select(col("d").as("day")).distinct()
    val contrib = ud.select(col("user_id"),
      explode(sequence(col("d"), date_add(col("d"), 6))).as("day"))
    contrib.join(broadcast(days), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("active_7d"))
      .orderBy("day")
  }

  /** Sketch twin of [[qRollingDistinct]]: per-day HLL register tables
    * merged over the trailing 7-day frame — the shape that actually
    * serves this metric at 100 TB. The exact twin is exact by contract
    * but shuffles 7× the distinct (user, day) pairs into a per-day
    * countDistinct; HERE the event stream collapses to ONE 256-byte
    * register array per day in a single partial-aggregating scan
    * (`hll_det`, graft.plans.HllDet — register max is commutative, so
    * map-side partials compose), the per-day register table is the
    * persistable incremental state (yesterday's registers never
    * recompute), and the 7-day union is a per-register RANGE-window max
    * over the exploded (day, j, r) relation — 256·#days rows, bounded
    * by the calendar, not the data, so the windows are safe at any
    * corpus size (partitioned by register index j, never by data keys).
    *
    * Since round 13 the sketch is the engine's deterministic HLL
    * (previously Spark's DataSketches binding — engine-opaque, rows-only
    * check): registers and estimate are pure functions of the data, so
    * the DuckDB oracle recomputes the per-day registers, the windowed
    * union, and the estimate in SQL — the row is hash-exact.
    * AnalyticsSpec keeps the accuracy contract vs the exact twin and
    * pins register-state determinism across parallelism levels. */
  def qRollingDistinctApprox(s: SparkSession, dir: String): DataFrame =
    rollingHllEstimate(
      graft.streaming.Windows.hllDayRegisters(Tables.events(s, dir)))
      .orderBy("day")

  /** The trailing-7-day union + estimate over a (day, regs) register
    * table — shared by [[qRollingDistinctApprox]] (in-plan registers)
    * and [[qHllIncremental]] (registers from the persisted store):
    * dense (day, j, r) posexplode of the fixed-width array, a
    * per-register rolling max over the day span (windows partitioned by
    * register index — 256 partitions, never data keys), then the
    * integer-scaled estimate. */
  private[graft] def rollingHllEstimate(perDay: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("j")).orderBy(col("dn")).rangeBetween(-6, 0)
    perDay
      .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
      .select(col("day"), col("dn"), posexplode(col("regs")).as(Seq("j", "r")))
      .withColumn("rm", max(col("r")).over(w))
      .groupBy(col("day"))
      .agg(graft.plans.HllDet.zvAggs(col("rm"), "z", "v").head,
        graft.plans.HllDet.zvAggs(col("rm"), "z", "v").tail: _*)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        graft.plans.HllDet.estimateFromZV(col("z"), col("v"))
          .as("active_7d_approx"))
  }

  /** Writes the per-day register SNAPSHOT (days strictly before the
    * data-anchored cutoff, min-day + 21 — the qIncrementalAgg anchor
    * convention): the persistable incremental state of the rolling
    * sketch, one 256-int array per day. */
  private[graft] def hllRegisterStoreDir(s: SparkSession, dir: String): String =
    Tables.store("hllregstore", dir) { root =>
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), to_date(col("ts")).as("day"))
      val anchor = ev.agg(date_add(min(col("day")), 21).as("cut"))
      Tables.write(graft.streaming.Windows.hllDayRegisters(
          ev.crossJoin(broadcast(anchor)).filter(col("day") < col("cut"))),
        s"$root/day_registers.parquet")
    }

  /** Writes the erased GENERATION of the register store: per-day HLL
    * registers REBUILT from the surviving events — see
    * [[qHllStoreErase]] for why rebuild (not subtraction) is the only
    * correct erase verb for sketch state. */
  private[graft] def hllErasedStoreDir(s: SparkSession, dir: String): String =
    Tables.store("hllregerase", dir) { root =>
      Tables.write(graft.streaming.Windows.hllDayRegisters(
          Tables.events(s, dir).select(col("ts"), col("user_id"))
            .filter(!erasureSubject(col("user_id")))),
        s"$root/day_registers.parquet")
    }

  /** Right-to-be-forgotten for SKETCH state — the erase verb the index
    * tiers have ([[graft.queries.Dedup.qDedupIndexErase]] prunes rows by
    * id) but a sketch CANNOT: HLL registers are max-folds, and max is
    * not invertible — no operation over the stored registers can remove
    * one member's contribution (the register a subject raised stays
    * raised). The only correct verb is a REBUILD of the register store
    * from the surviving raw events (or windowed expiry, where whole days
    * age out) — the documented production answer to GDPR-on-sketches,
    * made a gated artifact flow here: [[hllErasedStoreDir]] rebuilds the
    * per-day registers without the subjects' events (user_id ≡ 0 mod
    * 17, the q_erasure_audit scope), and the query serves the rolling
    * metric from the erased generation alone. The rebuild covers EVERY
    * day (not just [[hllRegisterStoreDir]]'s pre-cutoff snapshot range),
    * so it is a drop-in REPLACEMENT generation — the atomic pointer flip
    * that retires the pre-erasure store (and with it the pre-erasure
    * timeline q_hll_incremental models) is the deployment step, exactly
    * as the index tiers' erased/compacted gen dirs replace their gen0
    * (each generation stays addressable so every verb is independently
    * gated). Oracle = the shared
    * register CTE chain with the subject predicate on the event scan,
    * so every verify re-proves the rebuild equals a from-scratch
    * recompute over survivors. The spec additionally pins the
    * non-invertibility evidence (some register is LOWER in the erased
    * generation than in the unpruned store — a value no merge of the
    * old state could produce, only a rebuild) and the plan reading the
    * erased artifact.
    *
    * Scale stance (100 TB): the rebuild is one pass over surviving
    * events (at real scale, partition-pruned to the subjects' retention
    * window) producing 256 B/day — after which serving returns to
    * store-only cost; nothing here ever needs the erased users again. */
  def qHllStoreErase(s: SparkSession, dir: String): DataFrame = {
    val root = hllErasedStoreDir(s, dir)
    rollingHllEstimate(Tables.read(s, s"$root/day_registers.parquet"))
      .orderBy("day")
  }

  /** Incremental rolling-distinct sketch maintenance — the persisted-
    * index doctrine ([[graft.queries.Similarity.qAnnPersisted]]) applied
    * to the SKETCH tier, proving the scaladoc claim the rolling twin
    * makes ("yesterday's sketches never recompute") as an artifact flow
    * instead of an assertion: historical days' HLL registers come from a
    * parquet STORE ([[hllRegisterStoreDir]], written once); the query
    * scans raw events ONLY for the days at-or-after the cutoff
    * (min-day + 21), unions fresh registers with the stored table, runs
    * the shared 7-day union + estimate, and reports the post-cutoff
    * days. Output contract: the exact [[qRollingDistinctApprox]] rows
    * for those days — the oracle is the same register CTE chain with the
    * cutoff predicate, so every verify run re-proves
    * store ∪ delta ≡ full recompute (the mergeability HLL exists for).
    * The spec additionally pins row equality to the in-plan twin, the
    * store holding only pre-cutoff days, and the plan reading the
    * register artifact.
    *
    * Scale stance (100 TB of events): the daily job aggregates one day
    * of arrivals into ONE 256-byte row and appends it; serving the
    * trailing-window metric touches the register table alone (≤ 256 ×
    * #days tiny rows), and no historical event is ever re-scanned —
    * THE reason to keep sketch state instead of distinct user sets. */
  def qHllIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = hllRegisterStoreDir(s, dir)
    val stored = Tables.read(s, s"$root/day_registers.parquet")
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), to_date(col("ts")).as("day"))
    val anchor = ev.agg(date_add(min(col("day")), 21).as("cut"))
    val fresh = graft.streaming.Windows.hllDayRegisters(
      ev.crossJoin(broadcast(anchor)).filter(col("day") >= col("cut")))
    rollingHllEstimate(stored.unionByName(fresh))
      .crossJoin(broadcast(anchor.select(
        date_format(col("cut"), "yyyy-MM-dd").as("cut_s"))))
      // yyyy-MM-dd compares in date order as a string
      .filter(col("day") >= col("cut_s"))
      .select(col("day"), col("active_7d_approx"))
      .orderBy("day")
  }


  /** Sketch SET-ALGEBRA over the persisted register store (round-13
    * VERDICT Next #6) — the overlap questions a dashboard asks next once
    * per-day sketches exist ("how many of last week's actives were
    * active this week?"), answered WITHOUT touching raw events:
    * per day, the trailing week's registers [d−6, d], the PRECEDING
    * week's [d−13, d−7], their UNION via elementwise max (exact over
    * sketches — the one set operation HLL supports losslessly), and the
    * inclusion-exclusion intersection estimate
    * est(A) + est(B) − est(A∪B), floored at 0 (sketch noise can push
    * the difference slightly negative; a count can't be).
    *
    * All three estimates run through the ONE estimator spelling
    * ([[graft.plans.HllDet.estimateFromZV]] / duckEstimate), and the
    * intersection is computed from the ROUNDED estimates in both
    * engines, so the row is hash-exact. The ERROR contract — unlike
    * union, intersection is an estimate-of-estimates whose absolute
    * error scales with the UNION size, the documented
    * inclusion-exclusion caveat — is pinned against the exact recompute
    * in AnalyticsSpec, not here.
    *
    * Scale stance (100 TB): serving reads 256 × #days tiny rows from
    * the store — per-register windows over a calendar-bounded grid, no
    * event scan, no per-user state; cost is independent of event
    * history like every store-backed rung. */
  def qHllOverlap(s: SparkSession, dir: String): DataFrame =
    hllOverlapFrom(Tables.read(s,
      s"${hllRegisterStoreDir(s, dir)}/day_registers.parquet"))

  /** Core of [[qHllOverlap]] over any (day, regs) register table —
    * exposed so the spec can feed engineered register stores whose two
    * weekly audiences only PARTIALLY overlap (the fixture's 150 users
    * are all active every week, so the store case alone cannot
    * distinguish intersection from union). */
  private[graft] def hllOverlapFrom(perDay: DataFrame): DataFrame = {
    val ex = perDay
      .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
      .select(col("day"), col("dn"), posexplode(col("regs")).as(Seq("j", "r")))
    val wCur = Window.partitionBy(col("j")).orderBy(col("dn")).rangeBetween(-6, 0)
    val wPrev = Window.partitionBy(col("j")).orderBy(col("dn")).rangeBetween(-13, -7)
    import graft.plans.HllDet.zvAggs
    val aggs = zvAggs(col("rc"), "zc", "vc") ++ zvAggs(col("rp"), "zp", "vp") ++
      zvAggs(col("ru"), "zu", "vu")
    val st = ex
      .withColumn("rc", max(col("r")).over(wCur))
      .withColumn("rp", coalesce(max(col("r")).over(wPrev), lit(0)))
      .withColumn("ru", greatest(col("rc"), col("rp")))
      .groupBy(col("day"))
      .agg(aggs.head, aggs.tail: _*)
    import graft.plans.HllDet.estimateFromZV
    st.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        estimateFromZV(col("zp"), col("vp")).as("prev_7d"),
        estimateFromZV(col("zc"), col("vc")).as("cur_7d"),
        estimateFromZV(col("zu"), col("vu")).as("union_14d"))
      .withColumn("overlap_est",
        round(greatest(lit(0.0), col("prev_7d") + col("cur_7d") - col("union_14d")), 4))
      .orderBy("day")
  }

  // ===== Count-Min sketch tier (frequency dual of the HLL tier) =====

  /** CMS depth (independent hash rows) and width (columns per row):
    * d = 4, w = 256 → 1024 BIGINT counters total, broadcastable at any
    * corpus size. The fixture's bigram key space (~930 keys) exceeds w
    * deliberately — the sketch is SMALLER than the vocabulary, so the
    * structural overestimate (colliding keys share a counter; the
    * point estimate is min over the d rows) is visible in the real
    * fixture output, not just in an engineered spec corpus. */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 256

  /** Heavy-hitter support floor: report keys whose ESTIMATE is at least
    * total_occurrences div this (the q_assoc_rules named-constant
    * convention — thresholds are relative, so they survive scale-up). */
  private[graft] val CmsSupportDiv = 1000L

  /** Column index of key `word` in CMS row `i`: h32 of the row-salted
    * key, mod width — the [[graft.core.TextPipeline.h32]] discipline, so
    * the DuckDB oracle recomputes every counter bit-identically. */
  private[graft] def cmsColIdx(i: Column, word: Column): Column =
    TextPipeline.h32(concat(i.cast("string"), lit(":"), word)) % CmsW

  /** The raw bigram OCCURRENCE stream (one row per bigram instance) —
    * shared by the batch tier below (which aggregates to distinct-key
    * counts first) and the streaming face
    * ([[graft.streaming.Windows.cmsCounters]], which cannot stack two
    * aggregations under `readStream` and so hashes per occurrence).
    * Bigrams, not unigrams: the fixture vocabulary is 31 words (every
    * estimate would be collision-free and exact), while its ~930
    * distinct bigrams overfill the 256 columns ~3.6× — the regime a
    * production sketch lives in. Pairing via the one shared
    * [[graft.core.TextPipeline.bigrams]] spelling. */
  private[graft] def cmsKeyStream(docs: DataFrame): DataFrame =
    docs.select(TextPipeline.normalizedTokens(col("text")).as("w"))
      .select(explode(TextPipeline.bigrams(col("w"))).as("word"))

  /** Exact bigram frequency table (word, n) — the batch-tier key
    * relation every sketch build and probe runs from. */
  private[graft] def cmsKeyCounts(docs: DataFrame): DataFrame =
    cmsKeyStream(docs).groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** THE sketch geometry: expand a relation carrying a `word` column to
    * one row per (word, row-index i, column c) — shared by the batch
    * cells below and the streaming face
    * ([[graft.streaming.Windows.cmsCounters]]), so the row count, salt
    * format, and column hashing live in exactly one place. Other
    * columns ride along. */
  private[graft] def cmsCellExpand(keyed: DataFrame): DataFrame =
    keyed.withColumn("i", explode(sequence(lit(0), lit(CmsD - 1))))
      .withColumn("c", cmsColIdx(col("i"), col("word")))

  /** One row per (key, row-index) with its column index — the shared
    * expansion under both sketch BUILD and point-estimate PROBE. Always
    * fed the (word, n) AGGREGATE, never the raw occurrence stream: keys
    * hash once per distinct key, not once per occurrence. */
  private def cmsCells(counts: DataFrame): DataFrame =
    cmsCellExpand(counts.select(col("word"), col("n")))

  /** The sketch itself as a relation: (i, c, cnt) with cnt = Σn over
    * keys hashing to that cell — ≤ d·w = 1024 rows regardless of corpus
    * size. Counters are SUMS, so the state is a commutative GROUP (not
    * just a monoid like HLL's max-registers): map-side partials collapse
    * each partition to ≤1024 rows before the shuffle, stores merge by
    * elementwise +, and — unlike every other sketch in this engine —
    * erase by elementwise − is EXACT (see [[qCmsErase]]). */
  private[graft] def cmsSketch(counts: DataFrame): DataFrame =
    cmsCells(counts).groupBy(col("i"), col("c"))
      .agg(sum(col("n")).as("cnt"))

  /** (word, n, est) for EVERY candidate key — the threshold-free probe:
    * est = min over the d rows of the key's cell counter (never an
    * undercount — each cell sums the key's own n plus non-negative
    * collision mass). The sketch side is ≤1024 rows → broadcast; the
    * probe side is one narrow row per (candidate, row index) — d× the
    * candidate relation, never the occurrence stream. Exposed so the
    * spec can assert the one-sided error contract over the full key
    * set, not just the reported heavy hitters. */
  private[graft] def cmsEstimates(counts: DataFrame, sketch: DataFrame)
      : DataFrame =
    cmsCells(counts)
      .join(broadcast(sketch), Seq("i", "c"))
      .groupBy(col("word"), col("n"))
      .agg(min(col("cnt")).as("est"))

  /** The heavy-hitter report: estimates cleared against the support
    * floor, with the exact count beside so the overestimate contract
    * `est ≥ n_exact` is visible in the gated output, not just in a
    * spec. */
  private[graft] def cmsHeavyHitters(counts: DataFrame, sketch: DataFrame)
      : DataFrame = {
    val thr = counts.agg(sum(col("n")).as("t"))
      .select(expr(s"t div $CmsSupportDiv").as("thr"))
    cmsEstimates(counts, sketch)
      .crossJoin(broadcast(thr))
      .filter(col("est") >= col("thr"))
      .select(col("word"), col("est"), col("n").as("n_exact"),
        (col("est") - col("n")).as("overcount"))
      .orderBy("word")
  }

  /** Count-Min sketch (Cormode & Muthukrishnan, J.Alg 2005) heavy
    * hitters over the corpus bigram stream — the frequency dual of the
    * HLL tier's distinct counts: a fixed d×w = 4×256 counter grid
    * answers "how often does key x occur?" for any key, with a
    * one-sided error (estimates never undercount; collision mass can
    * inflate them by ≤ εN with ε ≈ e/w). Everything is deterministic
    * relational algebra over the shared h32 hashes — no custom
    * aggregate needed, because CMS counters are plain SUMS — so the
    * DuckDB oracle recomputes the counters, the min-over-rows
    * estimates, and the support floor bit-identically.
    *
    * Output: every bigram whose ESTIMATE clears total div 1000, with
    * the exact count and the (≥0) overcount beside it. The fixture's
    * ~930 bigrams over 256 columns make real collisions — most rows
    * carry a nonzero overcount, the honest picture of a sketch run
    * past its design load; AnalyticsSpec pins est ≥ exact for every
    * key (not just reported ones) and the εN ceiling.
    *
    * Scale stance (100 TB): the key stream collapses to (key, n) in
    * one word-count-shaped aggregate (hashing touches distinct keys,
    * not occurrences), the sketch is 1024 rows → broadcast probe, and
    * the candidate expansion is d× the candidate set. The sketch
    * never grows with the corpus — that is its entire reason to
    * exist; the exact column is the fixture-scale gate, not part of
    * the production serving path. */
  def qCmsFreq(s: SparkSession, dir: String): DataFrame = {
    val counts = cmsKeyCounts(Tables.documents(s, dir))
    cmsHeavyHitters(counts, cmsSketch(counts))
  }

  /** Persisted CMS store — writes BOTH generations once per
    * fixture dir: `sketch_hist` over the historical docs (doc_id mod 4
    * ≠ 3, the lifecycle arrival-wave convention) for the incremental
    * rung, and `sketch_full` over the whole corpus for the erase rung. */
  private[graft] def cmsStoreDir(s: SparkSession, dir: String): String =
    Tables.store("cmsstore", dir) { root =>
      val docs = Tables.documents(s, dir)
      Tables.write(
        cmsSketch(cmsKeyCounts(docs.filter(pmod(col("doc_id"), lit(4)) =!= 3))),
        s"$root/sketch_hist.parquet")
      Tables.write(cmsSketch(cmsKeyCounts(docs)), s"$root/sketch_full.parquet")
    }

  /** Incremental CMS maintenance — the persisted-store doctrine
    * ([[qHllIncremental]]) on the frequency sketch: historical counters
    * come from the parquet store (written once over the mod-4 ≠ 3
    * docs), only the delta batch (mod-4 ≡ 3 arrivals) is scanned and
    * sketched, and the two generations merge by elementwise SUM — one
    * union + 1024-row aggregate. The oracle is the full-corpus
    * recompute, so every verify re-proves store + delta ≡ full — the
    * linearity that makes sketch stores maintainable without ever
    * re-scanning history. */
  def qCmsIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = cmsStoreDir(s, dir)
    val stored = Tables.read(s, s"$root/sketch_hist.parquet")
    val docs = Tables.documents(s, dir)
    val delta = cmsSketch(
      cmsKeyCounts(docs.filter(pmod(col("doc_id"), lit(4)) === 3)))
    val merged = stored.unionByName(delta)
      .groupBy(col("i"), col("c")).agg(sum(col("cnt")).as("cnt"))
    val counts = cmsKeyCounts(docs)
    cmsHeavyHitters(counts, merged)
  }

  /** The sketch-store erase verb CMS uniquely supports: SUBTRACTION.
    * [[qHllStoreErase]] proves the opposite doctrine for HLL — max-fold
    * registers are not invertible, so HLL erase must REBUILD from
    * surviving events. CMS counters are sums, and sums form a group:
    * sketch(full) − sketch(subjects) ≡ sketch(survivors) COUNTER-BY-
    * COUNTER, exactly (linearity, not an approximation property). So
    * the erased generation is computed by scanning ONLY the subjects'
    * documents (doc_id ≡ 0 mod 17), negating their sketch, and folding
    * it into the stored full-corpus counters — erase cost proportional
    * to the ERASED data, while HLL pays a full survivor re-scan.
    * Zero-count cells drop so the subtracted generation is row-equal to
    * a from-scratch survivor rebuild (AnalyticsSpec pins that equality
    * at counter level, plus the negative-fold never driving any cell
    * below zero). The oracle recomputes heavy hitters directly over the
    * surviving docs, so every verify re-proves subtraction ≡ rebuild
    * end-to-end.
    *
    * Scale stance (100 TB): the subject scan is partition-prunable to
    * the subjects' shards, the negated delta collapses map-side to
    * ≤1024 rows, and the fold is a 1024-row aggregate — after which
    * serving returns to broadcast-probe cost. The candidate/exact side
    * (survivor recompute) is the fixture-scale GATE, not the
    * production erase path. */
  def qCmsErase(s: SparkSession, dir: String): DataFrame = {
    val root = cmsStoreDir(s, dir)
    val full = Tables.read(s, s"$root/sketch_full.parquet")
    val docs = Tables.documents(s, dir)
    val negated = cmsSketch(
        cmsKeyCounts(docs.filter(erasureSubject(col("doc_id")))))
      .select(col("i"), col("c"), (-col("cnt")).as("cnt"))
    val erased = full.unionByName(negated)
      .groupBy(col("i"), col("c")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0)
    val counts = cmsKeyCounts(docs.filter(!erasureSubject(col("doc_id"))))
    cmsHeavyHitters(counts, erased)
  }

  /** Join-SIZE estimation from two CMS sketches (Cormode &
    * Muthukrishnan, J.Alg 2005 §4.2) — the planner-statistics verb:
    * |A ⋈ B| on a key equals Σ_u nA(u)·nB(u), and the INNER PRODUCT of
    * the two sketches' rows bounds it from above (each cell product
    * carries the true term plus non-negative collision cross-terms;
    * min over the d rows tightens). So two 1024-cell grids — built
    * independently, mergeable, persistable — answer "how big would
    * this join be?" WITHOUT executing the join: the statistic a
    * distributed optimizer wants before committing to a shuffle
    * strategy at 100 TB, maintained incrementally like every sketch in
    * this tier.
    *
    * Here: the view×purchase self-join of the events stream on
    * user_id. Output is one row — exact size, sketch estimate, and the
    * (≥0) overcount — gated hash-exact because both engines run the
    * identical integer chain (cell products sum through a 38-digit
    * decimal / HUGEINT intermediate: two 100 TB streams can hold ~2³⁰
    * occurrences per hot cell, whose product overflows BIGINT).
    *
    * Scale stance: each sketch is one word-count-shaped aggregate over
    * its stream (map-side partials to ≤1024 rows); the estimate is a
    * 1024-row broadcast join. The exact column is the fixture-scale
    * gate — at production scale it is precisely the join you did NOT
    * want to run. */
  def qCmsJoinSize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    def side(typ: String) = ev.filter(col("event_type") === typ)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .select(col("user_id").cast("string").as("word"), col("n"))
    cmsJoinSizeFrom(s, side("view"), side("purchase"))
  }

  /** Core of [[qCmsJoinSize]] over any two (word, n) frequency vectors —
    * exposed so the spec can pin the inner-product math on engineered
    * single-key vectors (one shared key, no collisions → est must equal
    * exact, not merely bound it). */
  private[graft] def cmsJoinSizeFrom(
      s: SparkSession, a: DataFrame, b: DataFrame): DataFrame = {
    val spine = s.range(CmsD).select(col("id").cast("int").as("i"))
    val ip = cmsSketch(a).withColumnRenamed("cnt", "ca")
      .join(cmsSketch(b).withColumnRenamed("cnt", "cb"), Seq("i", "c"))
      .groupBy(col("i"))
      .agg(sum(col("ca").cast("decimal(19,0)") *
        col("cb").cast("decimal(19,0)")).as("ip"))
    val est = broadcast(spine).join(ip, Seq("i"), "left")
      .agg(min(coalesce(col("ip"), lit(0))).as("e"))
      .select(col("e").cast("long").as("est_join_size"))
    val exact = a.withColumnRenamed("n", "na")
      .join(b.withColumnRenamed("n", "nb"), Seq("word"))
      .agg(coalesce(sum(col("na").cast("decimal(19,0)") *
        col("nb").cast("decimal(19,0)")), lit(0)).cast("long")
        .as("exact_join_size"))
    broadcast(exact).crossJoin(est)
      .select(col("exact_join_size"), col("est_join_size"),
        (col("est_join_size") - col("exact_join_size")).as("overcount"))
  }

  /** Incremental aggregate maintenance: the per-user rollup is kept as a
    * SNAPSHOT (events strictly before a data-anchored cutoff day,
    * min-day + 21) merged with the DELTA batch (everything since) via one
    * full-outer coalesce-sum join — the plan an incremental ETL runs every
    * arrival, where only the delta is scanned and the snapshot is a stored
    * aggregate. The ORACLE is the single-pass recompute over all events,
    * so the verify run proves merge-of-partials == recompute exactly —
    * the algebraic property that makes incremental maintenance sound
    * (count and BIGINT-cents sum are commutative monoids; `value`
    * quantizes to round-to-cents BIGINT first, the q_stats rule, so the
    * merged sum is partition- and batch-order-free).
    *
    * Scale stance (100 TB): the delta aggregate shuffles one narrow
    * (user_id, long, long) row per ACTIVE user in the batch; the merge
    * join is snapshot-cardinality, not event-cardinality, and with both
    * sides bucketed on user_id it is co-partitioned and exchange-free.
    * Never re-scans history — that is the entire point. */
  def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        round(col("value") * 100).cast("long").as("cents"))
    val anchor = ev.agg(date_add(min(col("d")), 21).as("cut"))
    val tagged = ev.crossJoin(broadcast(anchor))
    def rollup(side: DataFrame, n: String, c: String): DataFrame =
      side.groupBy("user_id")
        .agg(count(lit(1)).as(n), sum(col("cents")).as(c))
    val snap = rollup(tagged.filter(col("d") < col("cut")), "sn", "sc")
    val delta = rollup(tagged.filter(col("d") >= col("cut")), "dn", "dc")
    snap.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("sn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_events"),
        (coalesce(col("sc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("value_cents"))
      .orderBy("user_id")
  }

  /** Incremental JOIN-view maintenance — the two-sided-delta algebra a
    * warehouse uses to keep a materialized join aggregate current
    * without rescanning history: with L = L_old ∪ ΔL and
    * O = O_old ∪ ΔO,
    *   Q(L, O) = Q(L_old, O_old)  [the stored MV]
    *           + Q(ΔL,  O_old)    [new lines against old orders]
    *           + Q(L,   ΔO)       [everything against new orders]
    * — two DELTA-KEYED joins instead of an old⨝old recompute. The
    * companion of q_incremental_agg (one-sided, aggregate-only); deltas
    * are carved deterministically by modular arithmetic so both engines
    * see the identical split (ΔL: (orderkey·31+linenumber) ≡ 0 mod 10,
    * ΔO: orderkey ≡ 0 mod 7).
    *
    * The MAINTAINED total is what ships (n_lines, rev_hc as exact
    * hundredth-cent BIGINTs) — and the ORACLE computes those columns
    * from the direct full join, so every verify re-proves the delta
    * algebra itself, not just the arithmetic. The MV term is computed
    * inline here for self-containedness; in production it is a stored
    * table and only the two delta joins run per batch.
    *
    * Scale stance (100 TB): each delta join shuffles one delta-sized
    * side against a key-pruned slice of the other; on the
    * q_bucketed_join layout all three joins are exchange-free. The
    * final combine is a |priorities|-row full-outer merge — the
    * q_incremental_agg snapshot+delta shape. */
  def qIncrementalJoin(s: SparkSession, dir: String): DataFrame = {
    val hc = (col("l_extendedprice").cast(DecimalType(14, 2))
      * (lit(1).cast(DecimalType(4, 2))
        - col("l_discount").cast(DecimalType(4, 2)))
      * 10000).cast("long")
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), hc.as("hc"),
        ((col("l_orderkey") * 31 + col("l_linenumber")) % 10 === 0)
          .as("is_dl"))
    val or = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_orderkey") % 7 === 0).as("is_do"))
    def agg(pairs: DataFrame, n: String, c: String): DataFrame =
      pairs.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as(n), sum(col("hc")).as(c))
    val mv = agg(li.filter(!col("is_dl"))
      .join(or.filter(!col("is_do")),
        col("l_orderkey") === col("o_orderkey")), "mv_n", "mv_hc")
    val d1 = agg(li.filter(col("is_dl"))
      .join(or.filter(!col("is_do")),
        col("l_orderkey") === col("o_orderkey")), "d1_n", "d1_hc")
    val d2 = agg(li
      .join(or.filter(col("is_do")),
        col("l_orderkey") === col("o_orderkey")), "d2_n", "d2_hc")
    mv.join(d1, Seq("o_orderpriority"), "full_outer")
      .join(d2, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("mv_n"), lit(0L)).as("mv_n"),
        coalesce(col("mv_hc"), lit(0L)).as("mv_hc"),
        (coalesce(col("d1_n"), lit(0L)) + coalesce(col("d2_n"), lit(0L)))
          .as("delta_n"),
        (coalesce(col("d1_hc"), lit(0L)) + coalesce(col("d2_hc"), lit(0L)))
          .as("delta_hc"))
      .select(col("o_orderpriority"), col("mv_n"), col("mv_hc"),
        col("delta_n"), col("delta_hc"),
        (col("mv_n") + col("delta_n")).as("n_lines"),
        (col("mv_hc") + col("delta_hc")).as("rev_hc"))
      .orderBy("o_orderpriority")
  }

  /** EWMA lag horizon: weights halve per day of age and 2^-21 of the
    * signal is far below the cents resolution, so truncating at 20 days
    * (≤ 21 terms) changes nothing observable while keeping the
    * arithmetic EXACT. */
  private val EwmaLags = 20

  /** Exponentially weighted moving average (α = ½) of daily order
    * revenue — the trend-smoothing twin of q_autocorr's seasonality
    * readout and the standard anomaly baseline ("today vs the smoothed
    * expectation"). Weights halve per CALENDAR DAY of age — the frame is
    * a RANGE over the day number, not a ROWS count, so on a gapped
    * series a 3-day-old observation weighs 2^-3 regardless of how many
    * rows sit between (a ROWS spelling would decay per present row — the
    * round-9 ADVICE divergence; on a dense calendar like this fixture
    * the two coincide term-for-term). The series truncates at
    * [[EwmaLags]] days, normalized by the REALIZED weight mass (days
    * with a short or gapped history average over what exists, rather
    * than leaking a zero-padded bias).
    *
    * Cross-engine exactness: daily revenue accumulates as round-to-cents
    * BIGINT; the weighted numerator is Σ xᵢ · 2^(20−(day−dayᵢ)) —
    * integer shifts, max ~1e17 at sf1000, no overflow — and the weight
    * mass is the same shift-sum over 1; the smoothed value is numerator
    * DIV mass (floor, in cents) — zero float ops anywhere, the
    * q_domain_mix DIV doctrine.
    * (A round(·, 6) spelling was measured to diverge by 1e-6 between
    * engines: scaling an identical double by 1e6 before rounding is
    * inexact, and the two libms disagree at half-ULP boundaries.)
    *
    * Scale stance (100 TB): the only pass over the data is the
    * orders→daily rollup (map-side combined partial agg). The window then
    * runs over a DATE-CARDINALITY relation — ~2.5k rows for this fixture's
    * date range at ANY corpus scale, the q_markov_transition bounded-state
    * argument — so the single-partition WindowExec is a constant-size
    * epilogue, not a data-bound stage; its 21-day RANGE frame carries
    * ≤ 21 (day, cents) pairs of state per row. */
  def qEwma(s: SparkSession, dir: String): DataFrame =
    ewma(Tables.orders(s, dir)
      .select(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("rev_cents")))

  /** Core of [[qEwma]] over any (day, rev_cents) daily relation —
    * exposed for AnalyticsSpec's gapped-calendar series, which pins that
    * decay is keyed on day DELTAS (2^-gap), not row offsets. */
  private[graft] def ewma(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
      .rangeBetween(-EwmaLags, Window.currentRow)
    daily
      .withColumn("xs", collect_list(col("rev_cents")).over(w))
      .withColumn("ds", collect_list(col("day")).over(w))
      .select(col("day"), col("rev_cents"),
        size(col("xs")).as("n_terms"),
        expr(s"""aggregate(
            zip_with(xs, ds,
              (x, dd) -> x * shiftleft(CAST(1 AS BIGINT),
                                       CAST($EwmaLags - (day - dd) AS INT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)
          div aggregate(
            transform(ds,
              dd -> shiftleft(CAST(1 AS BIGINT),
                              CAST($EwmaLags - (day - dd) AS INT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)""")
          .as("ewma_cents"))
      .orderBy("day")
  }

  /** Pearson chi-square independence test over the market-segment ×
    * order-priority contingency table — the categorical-association
    * readout behind feature selection and segmentation sanity checks
    * (does priority mix differ by segment?). The statistic's per-cell
    * term (n−e)²/e quantizes to a 1e-6 BIGINT grid before the sum — the
    * PageRank contribution trick — so the total is commutative and
    * partition-order-free; e itself is a fixed sequence of exact-double
    * ops from BIGINT margins, spelled identically in the oracle (no pow,
    * no libm). Output is all-integer: N, cell/margin counts, dof,
    * chi2_micros.
    *
    * Scale stance (100 TB): one fact join (orders⨝customer on custkey —
    * shuffled on the key, AQE-skewable) partial-aggregates to the
    * |segments|·|priorities| cell table; margins, N, expected values and
    * the statistic are arithmetic over that constant-size relation
    * (broadcast scalar joins), so nothing downstream of the first
    * aggregate grows with the data. */
  def qChiSquare(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"))
      // sf0.1 median, cuts on/off: q_cramers_v 0.84/1.17 s, q_chi_square 1.13/1.18 s
      .transform(Lineage.cut) // 4 consumers: margins ×2, N, terms
    val rowM = cells.groupBy("seg").agg(sum(col("n")).as("rn"))
    val colM = cells.groupBy("prio").agg(sum(col("n")).as("cn"))
    val tot = cells.agg(sum(col("n")).as("total"))
    cells
      .join(rowM, "seg").join(colM, "prio").crossJoin(broadcast(tot))
      .select(col("seg"), col("prio"), col("n"), col("total"),
        (col("rn").cast("double") * col("cn").cast("double")
          / col("total").cast("double")).as("e"))
      .select(col("seg"), col("prio"), col("total"),
        round((col("n").cast("double") - col("e"))
          * (col("n").cast("double") - col("e")) / col("e") * 1e6)
          .cast("long").as("term_micros"))
      .agg(max(col("total")).as("n_obs"),
        count(lit(1)).as("n_cells"),
        countDistinct(col("seg")).as("n_segs"),
        countDistinct(col("prio")).as("n_prios"),
        sum(col("term_micros")).as("chi2_micros"))
      .select(col("n_obs"), col("n_cells"), col("n_segs"), col("n_prios"),
        ((col("n_segs") - 1) * (col("n_prios") - 1)).as("dof"),
        col("chi2_micros"))
  }

  /** Minimum absolute co-occurrence for a pair to seed rules — the
    * Apriori support floor. Fixture-calibrated (max pair count is 5 at
    * sf0.001–sf0.01): 3 keeps a real rule set at every sf; at 100 TB the
    * floor is the lever that keeps the pair table polynomial. */
  private val RuleMinPairs = 3

  /** Association rules over order baskets (Agrawal–Srikant Apriori, the
    * 2-itemset tier): for every part pair co-ordered ≥ [[RuleMinPairs]]
    * times, both directed rules a→b with exact-integer support counts
    * and confidence = n_ab/n_a, lift = n_ab·N/(n_a·n_b) — each ONE
    * division of exact BIGINTs (the q_markov_transition pattern), so
    * cross-engine identical. The market-basket complement of
    * q_cooccur_lift (words) and the edge machinery of q_triangles,
    * graduated to the directed-rule readout a recommender consumes.
    *
    * Scale stance (100 TB): baskets collapse to distinct (order, part)
    * once; the pair join is the co-order self-join bounded by per-order
    * basket size (TPC-H-ish baskets are ≤ 7 lines — pair work is
    * Σ basket², not N²); the support floor prunes BEFORE the rule
    * expansion; item counts broadcast-join onto the ≤|pairs| rule rows.
    * One scan, three narrow integer shuffles, no text, no windows. */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      // cuts on/off: sf0.1 4.50/4.99 s, sf1 22.13/25.35 s (sf1 won 3/3)
      .distinct().transform(Lineage.cut) // 3 consumers: items, pairs, N
    val items = li.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
    val nOrders = li.agg(countDistinct(col("o")).as("n_orders"))
    val pairs = li.join(li.withColumnRenamed("p", "q"), "o")
      .filter(col("p") < col("q"))
      .groupBy(col("p"), col("q")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= RuleMinPairs)
    // both directed rules per surviving pair
    val rules = pairs.select(col("p").as("a"), col("q").as("b"), col("n_ab"))
      .unionAll(pairs.select(col("q").as("a"), col("p").as("b"), col("n_ab")))
    rules
      .join(items.select(col("p").as("a"), col("n_item").as("n_a")), "a")
      .join(items.select(col("p").as("b"), col("n_item").as("n_b")), "b")
      .crossJoin(broadcast(nOrders))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round((col("n_ab") * col("n_orders")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
      .orderBy("a", "b")
  }

  /** Peak concurrency per day — the max number of simultaneously-active
    * users (activity interval = [first, last] event of the (user, day)) —
    * the capacity-planning readout behind "how many seats were live at
    * once". Classic sweep line: +1 at interval start, −1 just after the
    * end, running-sum the deltas in time order, take the max.
    *
    * The SCALE-SAFE spelling is a two-phase distributed prefix sum, not
    * one giant per-day window: deltas pre-aggregate by (day, µs), then
    * (1) hour-level partial sums prefix-scan over ≤ 24 rows per day and
    * (2) the within-hour running sum adds the hour's carry-in — so the
    * sequential character of the scan is confined to (day, HOUR)
    * partitions, 24× the parallelism of the naive day-window, with the
    * carry chain a constant-size relation. The ORACLE is the naive
    * single-window-per-day spelling, so the decomposition is re-proven
    * equal to the textbook form on every verify run (the q_triangles
    * brute-force-oracle doctrine). Boundary semantics: a user active at
    * instant t counts at t (end delta lands at t+1µs); all integer. */
  def qPeakConcurrency(s: SparkSession, dir: String): DataFrame =
    peakConcurrency(Tables.events(s, dir))

  /** Core of [[qPeakConcurrency]] over any (user_id, ts) relation —
    * exposed so AnalyticsSpec can pin exact peaks on hand-built overlap
    * patterns (shared-instant inclusivity, singleton intervals). */
  private[graft] def peakConcurrency(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("t_us"))
      .groupBy("user_id", "day")
      .agg(min(col("t_us")).as("lo"), max(col("t_us")).as("hi"))
      // sf0.1 median, cuts on/off: 1.70/2.04 s
      .transform(Lineage.cut) // 2 consumers: deltas and the n_intervals count
    val deltas = iv.select(col("day"), col("lo").as("t"), lit(1L).as("d"))
      .unionAll(iv.select(col("day"), (col("hi") + 1).as("t"), lit(-1L).as("d")))
      .groupBy(col("day"), col("t")).agg(sum(col("d")).as("d"))
      .withColumn("hour", expr("t div 3600000000"))
    val hourSums = deltas.groupBy(col("day"), col("hour"))
      .agg(sum(col("d")).as("hd"))
    val carry = hourSums.withColumn("carry_in",
      coalesce(sum(col("hd")).over(Window.partitionBy(col("day"))
        .orderBy(col("hour")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("hour"), col("carry_in"))
    val running = deltas.join(carry, Seq("day", "hour"))
      .withColumn("run", col("carry_in") +
        sum(col("d")).over(Window.partitionBy(col("day"), col("hour"))
          .orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
    running.groupBy(col("day"))
      .agg(max(col("run")).as("peak_concurrent"))
      .join(iv.groupBy(col("day")).agg(count(lit(1)).as("n_intervals")), "day")
      .select(col("day"), col("n_intervals"), col("peak_concurrent"))
      .orderBy("day")
  }

  /** Time-weighted average value (TWAP) per (event_type, day): the
    * `value` signal is a step function that holds until the next
    * observation (LOCF), so the honest daily average is the integral
    * ∫v·dt / ∫dt between the first and last observation — the metric
    * behind TWAP pricing and "average concurrent load", and the
    * correction for irregularly-sampled series that a plain avg()
    * silently gets wrong (it over-weights bursts; the spec pins an
    * actual fixture group where the two disagree).
    *
    * Exactness: cents × microsecond durations are BIGINT products
    * (≤ ~1e15 per event), the integral is a BIGINT sum, and the output
    * is numerator DIV denominator (floor cents) — zero float ops, the
    * q_ewma doctrine. Groups with a single observation carry no
    * interval and are excluded (denominator 0).
    *
    * Scale stance: one shuffle for the lead() window keyed by
    * (event_type, day) — state is one row lookahead; the aggregate then
    * collapses to |types|·|days| rows. Nothing global, nothing
    * single-partition. */
  def qTwap(s: SparkSession, dir: String): DataFrame =
    twap(Tables.events(s, dir))

  /** Core of [[qTwap]] over any (event_type, event_id, ts, value)
    * relation — exposed for AnalyticsSpec's hand-built burst series. */
  private[graft] def twap(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("t_us").asc, col("event_id").asc)
    events
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("t_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("t_next", lead(col("t_us"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("cents") * (col("t_next") - col("t_us"))).as("numer"),
        sum(col("t_next") - col("t_us")).as("span_us"))
      .filter(col("span_us") > 0)
      .select(col("event_type"), col("day"), col("n_intervals"),
        col("span_us"), expr("numer div span_us").as("twap_cents"))
      .orderBy("event_type", "day")
  }

  /** Gini coefficient of customer revenue per market segment — the
    * whole-distribution inequality readout completing
    * q_revenue_concentration's top-decile share: G = (2·Σ i·xᵢ −
    * (n+1)·Σ xᵢ) / (n·Σ xᵢ) over the ascending-sorted per-customer
    * revenues (the discrete Lorenz form). The rank-weighted sum
    * Σ i·xᵢ grows as n_cust² × avg_cents (~6.75e16·sf² on TPC-H), so
    * a BIGINT accumulator would wrap around sf≈12 while DuckDB's
    * sum(BIGINT) silently promotes to HUGEINT — the sum therefore
    * accumulates in DECIMAL(38,0) (exact to ~1e38, i.e. sf ~1e10),
    * matching the oracle's promotion; only the final division is
    * floating-point. Rank order among equal values cannot change the
    * sum (equal xᵢ commute), so the window tie-break exists only for
    * determinism of the intermediate, not the answer.
    *
    * Scale stance: one orders→customer rollup shuffle, then a
    * per-segment rank window over the already-collapsed
    * customer-cardinality relation (the q_revenue_concentration plan
    * shape), then a 5-row aggregate. */
  def qGini(s: SparkSession, dir: String): DataFrame =
    gini(Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  /** Core of [[qGini]] over any (segment, c_custkey, cents) relation —
    * exposed for AnalyticsSpec's closed-form cases (uniform → 0,
    * single-holder → (n−1)/n exactly). */
  private[graft] def gini(rev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("segment"))
      .orderBy(col("cents").asc, col("c_custkey").asc)
    rev.withColumn("i", row_number().over(w))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("cents")).as("total_cents"),
        sum(col("i").cast("decimal(38,0)") * col("cents"))
          .as("weighted_cents"))
      .select(col("segment"), col("n_cust"), col("total_cents"),
        round((lit(2) * col("weighted_cents")
            - (col("n_cust") + 1) * col("total_cents")).cast("double")
          / (col("n_cust") * col("total_cents")).cast("double"), 6).as("gini"))
      .orderBy("segment")
  }

  /** Two-sample Kolmogorov–Smirnov test between the value distributions
    * of `view` and `purchase` events — the distribution-shift readout
    * behind drift monitors and A/B sanity checks, completing the test
    * tier (q_chi_square: categorical; q_ab_test: proportions; this:
    * whole-CDF). The statistic is computed EXACTLY in integers: with
    * cumulative counts cA, cB at each distinct cent value, D =
    * max |cA/nA − cB/nB| = max |cA·nB − cB·nA| / (nA·nB) — the output
    * carries the integer numerator d_num, the sizes, the 1e6-scaled
    * quotient d_ppm (all BIGINT, exact while nA·nB < 9.2e18 ≈ two
    * 3-billion-row samples), and the α=0.05 verdict evaluated WITHOUT
    * any square root: D > 1.358·√((nA+nB)/(nA·nB)) squares to
    * 10⁶·d_num² > 1844164·(nA+nB)·nA·nB, compared in DECIMAL(38,0) /
    * HUGEINT so both engines decide the boundary identically (1.358² =
    * 1.844164 exactly — the constant is rational).
    *
    * Scale stance (100 TB): one scan partial-aggregates to per-cent
    * counts — the only data-bound shuffle; the cumulative window then
    * runs over the VALUE-RESOLUTION relation (≤ ~10k distinct cents for
    * a bounded price domain — the q_ewma bounded-cardinality epilogue
    * argument; an unbounded domain takes the q_peak_concurrency
    * two-phase prefix sum verbatim), and the final max is a 1-row agg. */
  def qKsTest(s: SparkSession, dir: String): DataFrame =
    ksTest(Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select((col("event_type") === "view").as("is_a"),
        round(col("value") * 100).cast("long").as("cents")))

  /** Core of [[qKsTest]] over any (is_a, cents) relation — exposed for
    * AnalyticsSpec's closed-form cases (identical samples → D = 0,
    * disjoint supports → D = 1). */
  private[graft] def ksTest(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ev.groupBy(col("cents"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("da"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("db"))
      .withColumn("ca", sum(col("da")).over(w))
      .withColumn("cb", sum(col("db")).over(w))
    val tot = cum.agg(max(col("ca")).as("n_a"), max(col("cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("ca") * col("n_b") - col("cb") * col("n_a")).as("gap"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("gap")).as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        expr("d_num * 1000000 div (n_a * n_b)").as("d_ppm"),
        (lit(1000000).cast("decimal(38,0)") * col("d_num") * col("d_num")
          > lit(1844164).cast("decimal(38,0)")
            * (col("n_a") + col("n_b")) * col("n_a") * col("n_b"))
          .as("reject_05"))
  }

  /** Attribution lookback window: 7 days in µs. */
  private val AttribWindowUs = 7L * 86400000000L

  /** Last-touch marketing attribution: every `purchase` conversion is
    * credited to the user's most recent `click` or `view` touchpoint
    * within the [[AttribWindowUs]] lookback (ties broken by event_id);
    * conversions with no qualifying touch credit `direct`. Output is the
    * per-channel revenue readout a marketing warehouse reports —
    * completing the journey tier (q_funnel: stage counts; q_sessionize:
    * visit boundaries; q_markov_transition: path structure; this: credit
    * assignment).
    *
    * Determinism: the winning touch is rank-1 by (t_us DESC, touch_id
    * DESC) — a total order — and revenue accumulates as round-to-cents
    * BIGINT. Both engines run the identical window.
    *
    * Scale stance (100 TB): the touch⨝conversion join shuffles ONCE on
    * user_id (AQE-skewable); per-user work is bounded by touches×
    * conversions within one user's 7-day windows, not corpus size. The
    * rank window partitions per conversion id — maximal parallelism,
    * one-row output per conversion — and the channel rollup is a
    * 3-row partial agg. No window ever sees more than one user's rows. */
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    attribution(Tables.events(s, dir))

  /** MULTI-TOUCH linear attribution — the equal-split twin of the
    * last-touch [[qAttribution]] (same 7-day strict lookback, same
    * channels, same direct fallback), the other credit model every
    * marketing warehouse reports side by side. Each conversion's cents
    * split EXACTLY across its N qualifying touches by largest remainder
    * (`cents div N` each, +1 cent to the first `cents mod N` touches in
    * (t_us, touch_id) order) — integer-exact, so per-channel credit sums
    * to total revenue to the cent, the conservation law the spec pins
    * against q_attribution's total.
    *
    * Scale stance: identical single user-keyed join shuffle as
    * q_attribution; both windows partition per conversion id (bounded by
    * one user's touches-in-window, never corpus size); channel rollup is
    * a ≤3-group partial agg. */
  def qAttributionLinear(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("p_us"),
        round(col("value") * 100).cast("long").as("cents"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("event_id").as("touch_id"), unix_micros(col("ts")).as("t_us"))
    val wCnt = Window.partitionBy(col("conv_id"))
    val wRank = Window.partitionBy(col("conv_id"))
      .orderBy(col("t_us").asc_nulls_last, col("touch_id").asc_nulls_last)
    conv
      .join(touch,
        conv("user_id") === touch("user_id")
          && col("t_us") <= col("p_us")
          && col("t_us") > col("p_us") - AttribWindowUs,
        "left")
      .withColumn("n", count(col("touch_id")).over(wCnt))
      .withColumn("rn", row_number().over(wRank))
      .select(
        when(col("touch_id").isNull, "direct").otherwise(col("channel"))
          .as("channel"),
        col("conv_id"),
        when(col("touch_id").isNull, col("cents"))
          .otherwise(expr("cents div n")
            + when(col("rn") <= col("cents") % col("n"), 1L).otherwise(0L))
          .as("attributed"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        countDistinct(col("conv_id")).as("n_conversions"),
        sum(col("attributed")).as("attributed_cents"))
      .orderBy("channel")
  }

  /** Core of [[qAttribution]] over any (event_id, ts, user_id,
    * event_type, value) relation — exposed for AnalyticsSpec's
    * hand-built journeys (window edge, tie at the same instant,
    * touchless conversion). */
  private[graft] def attribution(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("p_us"),
        round(col("value") * 100).cast("long").as("cents"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("event_id").as("touch_id"), unix_micros(col("ts")).as("t_us"))
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("t_us").desc_nulls_last, col("touch_id").desc_nulls_last)
    conv
      .join(touch,
        conv("user_id") === touch("user_id")
          && col("t_us") <= col("p_us")
          && col("t_us") > col("p_us") - AttribWindowUs,
        "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        col("cents"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("cents")).as("revenue_cents"))
      .orderBy("channel")
  }

  /** Right-censoring horizon for [[qSurvival]]: a user whose last event
    * is within 12 hours of the observation end is still-active. Hours,
    * not days: the fixture's event stream spans ~30 days with every
    * user active into the final 48 h, so the curve lives at hour
    * granularity (a longer-horizon deployment changes only these two
    * constants). */
  private val SurvivalCensorUs = 12L * 3600000000L

  /** Kaplan–Meier survival curve of user lifetime (hours from first to
    * last event), right-censored at [[SurvivalCensorUs]] before the
    * observation end — the churn-analysis readout that q_churn's point
    * estimate and q_retention's cohort grid don't give: "what fraction
    * of users survive past t hours", correctly NOT counting
    * still-active users as churned. At each churn time t: S(t) =
    * Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with nᵢ the at-risk count (observed time
    * ≥ tᵢ).
    *
    * Cross-engine exactness: the product is carried in LOG2 space on
    * the verified 1e-6 BIGINT grid — km_log2_micros = Σ (qlog(nᵢ−dᵢ) −
    * qlog(nᵢ)), an integer exact under any partitioning; S(t) =
    * 2^(km/1e6) is derivable but never computed (no cross-engine pow).
    * If the risk set exhausts exactly (nᵢ = dᵢ, S → 0), that row — by
    * construction the last — carries NULL (log 0), spelled identically
    * in the oracle.
    *
    * Scale stance (100 TB): one user rollup shuffle (partial-agg
    * min/max), then everything runs on the DISTINCT-LIFETIME relation —
    * bounded by the observation range in hours (the q_ewma
    * bounded-cardinality epilogue), where the reverse-cumulative risk
    * set and the forward-cumulative log sum are two windows over ≤ ~1k
    * rows. */
  def qSurvival(s: SparkSession, dir: String): DataFrame =
    survival(Tables.events(s, dir))

  /** Core of [[qSurvival]] over any (user_id, ts) relation — exposed
    * for AnalyticsSpec's closed-form cohort (known churn days, one
    * censored straggler). */
  private[graft] def survival(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val users = ev.groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      // sf0.1 median, cuts on/off: 0.68/0.71 s
      .transform(Lineage.cut) // 2 consumers: observation end + lifetimes
    val tend = users.agg(max(col("last_us")).as("t_end"))
    val obs = users.crossJoin(broadcast(tend))
      .select(expr("(last_us - first_us) div 3600000000").as("t"),
        (col("last_us") <= col("t_end") - SurvivalCensorUs).as("churned"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_t"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d_t"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.withColumn("n_risk", sum(col("n_t")).over(wDesc))
      .filter(col("d_t") > 0)
      .withColumn("term",
        when(col("n_risk") === col("d_t"), 0L)
          .otherwise(qlog(col("n_risk") - col("d_t")) - qlog(col("n_risk"))))
      .withColumn("km_log2_micros",
        when(col("n_risk") === col("d_t"), lit(null).cast("long"))
          .otherwise(sum(col("term")).over(wAsc)))
      .select(col("t").as("t_hour"), col("n_risk"),
        col("d_t").as("n_churn"), col("km_log2_micros"))
      .orderBy("t_hour")
  }

  /** Daily uptime (interval-union coverage): the total microseconds per
    * day during which AT LEAST ONE user was active — the SLA/coverage
    * twin of q_peak_concurrency's max readout, over the same (user,
    * day) activity intervals. Classic sweep line with DURATIONS: +1/−1
    * deltas, and every inter-delta segment whose running count is
    * positive contributes its length.
    *
    * The SCALE-SAFE spelling extends the q_peak_concurrency two-phase
    * prefix sum with an HOUR SPINE: deltas pre-aggregate to (day, µs),
    * hour-level sums prefix-scan over the 25-row-per-day spine (so
    * hours with NO deltas — fully-covered or fully-idle — still carry
    * their running count), and within each (day, hour) partition the
    * segment walk is a lead(t) window over that hour's deltas plus one
    * head segment from the hour boundary. Sequential work is confined
    * to single hours; the carry chain is 25 rows/day. The ORACLE is
    * the naive one-window-per-day sweep, so the decomposition is
    * re-proven equal on every verify. All integer µs; a user active at
    * instant t covers t (end delta at hi+1), matching
    * q_peak_concurrency's boundary semantics exactly. */
  def qUptime(s: SparkSession, dir: String): DataFrame =
    uptime(Tables.events(s, dir))

  /** Core of [[qUptime]] over any (user_id, ts) relation — exposed for
    * AnalyticsSpec's hand-built coverage patterns (disjoint, nested,
    * abutting, hour-spanning intervals). */
  private[graft] def uptime(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val HourUs = 3600000000L
    val iv = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("t_us"))
      .groupBy("user_id", "day")
      .agg(min(col("t_us")).as("lo"), max(col("t_us")).as("hi"))
      // sf0.1 median, cuts on/off: 1.58/2.15 s (all three q_uptime cuts)
      .transform(Lineage.cut) // 3 consumers: deltas, day spine, interval count
    val deltas = iv.select(col("day"), col("lo").as("t"), lit(1L).as("d"))
      .unionAll(iv.select(col("day"), (col("hi") + 1).as("t"), lit(-1L).as("d")))
      .groupBy(col("day"), col("t")).agg(sum(col("d")).as("d"))
      .withColumn("hour", expr(s"t div $HourUs"))
      // sf0.1 median, cuts on/off: 1.58/2.15 s (all three q_uptime cuts)
      .transform(Lineage.cut) // 3 consumers: hour sums, segments, hour heads
    val spine = iv.select(col("day")).distinct()
      .select(col("day"),
        explode(sequence(col("day") * 24, col("day") * 24 + 24)).as("hour"))
    val carry = spine
      .join(deltas.groupBy(col("day"), col("hour")).agg(sum(col("d")).as("hd")),
        Seq("day", "hour"), "left")
      .withColumn("carry_in",
        coalesce(sum(coalesce(col("hd"), lit(0L)))
          .over(Window.partitionBy(col("day")).orderBy(col("hour"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("hour"), col("carry_in"))
      // sf0.1 median, cuts on/off: 1.58/2.15 s (all three q_uptime cuts)
      .transform(Lineage.cut) // 2 consumers: segments join + hour heads
    val wh = Window.partitionBy(col("day"), col("hour")).orderBy(col("t"))
    val segCov = deltas.join(carry, Seq("day", "hour"))
      .withColumn("run", col("carry_in")
        + sum(col("d")).over(wh.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nxt", lead(col("t"), 1).over(wh))
      .select(col("day"),
        when(col("run") > 0,
          coalesce(col("nxt"), (col("hour") + 1) * HourUs) - col("t"))
          .otherwise(0L).as("cov"))
    val headCov = carry
      .join(deltas.groupBy(col("day"), col("hour")).agg(min(col("t")).as("t0")),
        Seq("day", "hour"), "left")
      .select(col("day"),
        when(col("carry_in") > 0,
          coalesce(col("t0"), (col("hour") + 1) * HourUs)
            - col("hour") * HourUs)
          .otherwise(0L).as("cov"))
    segCov.unionAll(headCov)
      .groupBy(col("day")).agg(sum(col("cov")).as("uptime_us"))
      .join(iv.groupBy(col("day")).agg(count(lit(1)).as("n_intervals")), "day")
      .select(col("day"), col("n_intervals"), col("uptime_us"),
        expr("uptime_us * 1000000 div 86400000000").as("uptime_ppm"))
      .orderBy("day")
  }

  /** First-signup → first-qualifying-purchase conversion lag — the
    * activation-latency readout ("how long until a new user buys")
    * completing q_funnel's stage counts with TIME between stages. Per
    * user: earliest signup s₀, earliest purchase at or after s₀, lag in
    * whole minutes (integer DIV). Output is one global row: cohort
    * sizes, conversion ppm (integer), and the exact interpolating
    * median/p90 of the lag (quantile_cont parity proven by
    * q_median_price).
    *
    * Scale stance: two per-user partial aggs (signup min, then
    * qualifying-purchase min after a user-keyed join — one shuffle
    * each, AQE-skewable) collapse to USER cardinality before the
    * percentile; the final agg is one row. */
  def qConversionLag(s: SparkSession, dir: String): DataFrame =
    conversionLag(Tables.events(s, dir))

  /** Core of [[qConversionLag]] over any (user_id, ts, event_type)
    * relation — exposed for AnalyticsSpec's hand-built journeys
    * (pre-signup purchase, signup-less purchaser, first-of-many). */
  private[graft] def conversionLag(ev: DataFrame): DataFrame = {
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s0"))
      // cuts on/off: sf0.1 0.57/0.66 s, sf1 1.21/1.34 s (sf1 won 3/3)
      .transform(Lineage.cut) // 2 consumers: cohort count + purchase join
    val lag = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .join(su, "user_id")
      .filter(col("p_us") >= col("s0"))
      .groupBy(col("user_id"))
      .agg(expr("(min(p_us) - min(s0)) div 60000000").as("lag_min"))
    lag.agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lag_min, 0.5)"), 4).as("median_lag_min"),
        round(expr("percentile(lag_min, 0.9)"), 4).as("p90_lag_min"))
      .crossJoin(broadcast(su.agg(count(lit(1)).as("n_signup"))))
      .select(col("n_signup"), col("n_converted"),
        when(col("n_signup") > 0,
          expr("n_converted * 1000000 div n_signup"))
          .otherwise(lit(0L)).as("conv_ppm"),
        col("median_lag_min"), col("p90_lag_min"))
  }

  /** PSI bin count (deciles of the value range). */
  private val PsiBins = 10

  /** Population stability index of the purchase-value distribution,
    * first half vs second half of the observation window — THE model-
    * monitoring drift metric (PSI < 0.1 stable, > 0.25 shifted), the
    * numeric-feature complement of q_kl_drift's vocabulary divergence
    * and q_ks_test's single-statistic verdict: PSI localizes WHERE the
    * distribution moved, bin by bin. PSI = Σ (pᵢ−qᵢ)·log(pᵢ/qᵢ) over
    * [[PsiBins]] equal-width bins of the full value range, with
    * Laplace-smoothed shares (cᵢ+1)/(n+bins) so empty bins are finite.
    *
    * Cross-engine exactness: binning, the period split (calendar
    * midpoint), and counts are integer; each bin's log ratio is a
    * DIFFERENCE OF INTEGER-COUNT LOGS on the verified 1e-6 grid
    * (log(c+1)−log(n+bins) per side — no libm on non-integer input),
    * the share difference is exact-double division of integers (the
    * q_chi_square doctrine), and each term quantizes to BIGINT micros
    * before the sum. Output is the per-bin drill-down plus a bin = −1
    * total row whose term_micros IS the PSI (in log2 micros; ×ln 2 for
    * nats is derivable).
    *
    * Scale stance: one scan → 10-bin partial agg; everything downstream
    * runs on the constant [[PsiBins]]-row relation (range and totals
    * broadcast). */
  def qPsi(s: SparkSession, dir: String): DataFrame =
    psi(Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents")))

  /** Core of [[qPsi]] over any (day, cents) relation — exposed for
    * AnalyticsSpec's closed forms (identical halves → PSI 0, disjoint
    * bin masses → every term positive). */
  private[graft] def psi(v: DataFrame): DataFrame = {
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val rng = v.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"),
      min(col("cents")).as("cmin"), max(col("cents")).as("cmax"))
    val binned = v.crossJoin(broadcast(rng))
      .select(
        (col("day") < expr("(dmin + dmax + 1) div 2")).as("is_a"),
        least(lit((PsiBins - 1).toLong),
          expr(s"(cents - cmin) * $PsiBins div (cmax - cmin + 1)"))
          .as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("c_b"))
    val spine = rng.filter(col("dmin").isNotNull)
      .select(explode(sequence(lit(0L), lit((PsiBins - 1).toLong))).as("bin"))
    val tot = binned.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val terms = spine.join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("c_a", "c_b"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("c_a"), col("c_b"),
        round(((col("c_a") + 1).cast("double")
              / (col("n_a") + PsiBins).cast("double")
            - (col("c_b") + 1).cast("double")
              / (col("n_b") + PsiBins).cast("double"))
          * (qlog(col("c_a") + 1) - qlog(col("n_a") + PsiBins)
            - qlog(col("c_b") + 1) + qlog(col("n_b") + PsiBins))
            .cast("double"))
          .cast("long").as("term_micros"))
    terms.unionAll(
        terms.agg(sum(col("c_a")).as("c_a"), sum(col("c_b")).as("c_b"),
            sum(col("term_micros")).as("t"))
          .filter(col("c_a").isNotNull)
          .select(lit(-1L).as("bin"), col("c_a"), col("c_b"),
            col("t").as("term_micros")))
      .orderBy("bin")
  }

  /** Weekly-cohort lifetime value: users grouped by first-active week,
    * cumulative purchase revenue per cohort across week offsets, and
    * the LTV-per-user readout (integer cents DIV) — the revenue
    * completion of q_retention's presence grid (retention says "they
    * came back"; LTV says "what that was worth"). Weeks with no
    * purchases are simply absent (their revenue is 0, so the cumulative
    * sum is unaffected).
    *
    * All-integer: round-to-cents BIGINT revenue, week arithmetic on
    * epoch-µs DIV, one DIV per output row. Scale stance: two
    * user-keyed partial aggs (first week, weekly revenue) + the
    * cumulative window over the COHORT×WEEKS grid — bounded by the
    * observation range squared in weeks, not by events (the q_ewma
    * epilogue argument); cohort sizes broadcast. */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val first = ev.groupBy(col("user_id"))
      .agg(expr("min(unix_micros(ts) div 604800000000)").as("cw"))
      // sf0.1 median, cuts on/off: 0.66/0.83 s
      .transform(Lineage.cut) // 2 consumers: cohort sizes + revenue join
    val sizes = first.groupBy("cw").agg(count(lit(1)).as("cohort_users"))
    val win = Window.partitionBy(col("cw")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("w"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(first, "user_id")
      .groupBy(col("cw"), (col("w") - col("cw")).as("week_offset"))
      .agg(sum(col("cents")).as("rev_cents"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(win))
      .join(broadcast(sizes), "cw")
      .select(col("cw").as("cohort_week"), col("week_offset"),
        col("cohort_users"), col("rev_cents"), col("cum_rev_cents"),
        expr("cum_rev_cents div cohort_users").as("ltv_cents"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Mutual information between market segment and order priority — the
    * information-theoretic completion of q_chi_square over the SAME
    * contingency table: MI says how many bits one label carries about
    * the other, and the normalized score MI/min(H_row, H_col) is the
    * [0,1] association strength feature selection ranks by.
    *
    * Cross-engine exactness: every log is an INTEGER-COUNT log on the
    * verified 1e-6 grid (log2 n_ij + log2 N − log2 n_i − log2 n_j, and
    * the marginal entropies likewise); each cell weight n_ij/N is one
    * exact-double division of BIGINTs; each term quantizes to BIGINT
    * micros before the commutative sum (the q_chi_square doctrine).
    * The normalization is a single integer DIV in ppm.
    *
    * Scale stance: identical to q_chi_square — one fact-join shuffle
    * partial-aggs to the |segments|·|priorities| cell table; margins
    * and the statistic are constant-size arithmetic. */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val cells = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"))
      // sf0.1 median, cuts on/off: 0.87/1.15 s
      .transform(Lineage.cut) // 4 consumers: margins ×2, N, terms
    val rowM = cells.groupBy("seg").agg(sum(col("n")).as("rn"))
    val colM = cells.groupBy("prio").agg(sum(col("n")).as("cn"))
    val tot = cells.agg(sum(col("n")).as("big_n"))
    val mi = cells
      .join(rowM, "seg").join(colM, "prio").crossJoin(broadcast(tot))
      .select(round((col("n").cast("double") / col("big_n").cast("double"))
          * (qlog(col("n")) + qlog(col("big_n"))
            - qlog(col("rn")) - qlog(col("cn"))).cast("double"))
          .cast("long").as("term"))
      .agg(sum(col("term")).as("mi_micros"))
    def entropy(m: DataFrame, c: String): DataFrame = m
      .crossJoin(broadcast(tot))
      .select(round((col(c).cast("double") / col("big_n").cast("double"))
          * (qlog(col("big_n")) - qlog(col(c))).cast("double"))
          .cast("long").as("t"))
      .agg(sum(col("t")).as(s"h_$c"))
    mi.crossJoin(broadcast(entropy(rowM, "rn")))
      .crossJoin(broadcast(entropy(colM, "cn")))
      .crossJoin(broadcast(tot))
      .select(col("big_n").as("n_obs"), col("mi_micros"),
        col("h_rn").as("h_seg_micros"), col("h_cn").as("h_prio_micros"),
        when(least(col("h_rn"), col("h_cn")) > 0,
          expr("mi_micros * 1000000 div least(h_rn, h_cn)"))
          .otherwise(lit(0L)).as("nmi_ppm"))
  }

  /** CUSUM changepoint detection on daily order revenue: the day k that
    * maximizes |Σ_{i≤k} (N·xᵢ − T)| — the scaled CUSUM that avoids the
    * non-integer mean entirely (S_k = N·(prefix_k − k·mean) exactly) —
    * with the shift direction read off the sign (S < 0 at the argmax ⇒
    * the left side sat below the overall mean ⇒ an UPWARD level shift
    * after the changepoint). The standard "when did the metric move"
    * monitoring readout behind alert timelines.
    *
    * All-integer: cents revenue; the N·x − T products and their prefix
    * sums accumulate in DECIMAL(38,0) (|S| is bounded by nd·T ≈
    * 5.4e16·sf on TPC-H's fixed ~2,400-day calendar, so a BIGINT
    * accumulator would hit its ceiling near sf ≈ 170 — the q_gini
    * promotion; DuckDB's sum promotes to HUGEINT silently). The OUTPUT
    * column stays BIGINT: the final cast is the fail-loud ANSI boundary
    * at the same ~sf 170, past which the column itself needs widening.
    * Argmax tie broken toward the earliest day via min-over-argmax.
    * Scale stance: one rollup shuffle to the DATE-cardinality relation;
    * prefix sum + argmax over it (the q_ewma bounded epilogue). */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, dir)
      .select(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("x"))
    val tot = daily.agg(count(lit(1)).as("nd"), sum(col("x")).as("t"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("s", sum(col("nd").cast(DecimalType(38, 0)) * col("x")
          - col("t"))
        .over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val mx = cum.agg(max(abs(col("s"))).as("s_abs_max"))
    cum.crossJoin(broadcast(mx))
      .filter(abs(col("s")) === col("s_abs_max"))
      .groupBy(col("s_abs_max"))
      .agg(min(col("day")).as("cp_day"),
        min(struct(col("day"), col("s"))).as("_first"))
      .select(col("cp_day"), col("s_abs_max").cast("long").as("s_abs_max"),
        when(col("_first.s") < 0, lit("up")).otherwise(lit("down"))
          .as("shift"))
  }

  /** Exact ROC-AUC of "order value predicts urgency" via the
    * Mann-Whitney rank-sum identity — the classifier-quality readout
    * every model-eval pipeline needs, computed WITHOUT sorting
    * individual rows: AUC = P(score⁺ > score⁻) + ½P(tie). Positives are
    * urgent/high-priority orders, the score is the cent price.
    *
    * Exactness: per-score counts collapse first; u2 = Σ np·(2·negs_below
    * + ties) counts every (pos, neg) pair twice (ties once each way) in
    * DECIMAL(38,0); auc_ppm = u2·5e5/(n⁺·n⁻) floored via the exact
    * decimal remainder identity (Spark's decimal `div` HALF_UP-rounds —
    * the q8_market_share finding — and DuckDB's side runs in HUGEINT).
    * u2's BIGINT output column wraps at n⁺·n⁻ ≈ 4.6e18 (~sf 3e4).
    *
    * Scale stance (100 TB): one scan partial-aggregates to per-cent
    * counts; the cumulative window runs over the VALUE-RESOLUTION
    * relation (the q_ks_test stance — an unbounded score domain takes
    * the q_peak_concurrency two-phase prefix sum); epilogue is 1-row. */
  def qAuc(s: SparkSession, dir: String): DataFrame =
    auc(Tables.orders(s, dir).select(
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("is_pos"),
      round(col("o_totalprice") * 100).cast("long").as("cents")))

  /** Core of [[qAuc]] over any (is_pos, cents) relation — exposed for
    * AnalyticsSpec's closed forms (separated → 1e6, swapped → 0,
    * identical distributions → 5e5, the tied textbook 3-row case). */
  private[graft] def auc(sc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sc.groupBy(col("cents"))
      .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("is_pos"), 0L).otherwise(1L)).as("nn"))
      .withColumn("cn", sum(col("nn")).over(w))
    val tot = cum.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_pos"), col("n_neg"),
        (col("np").cast(DecimalType(38, 0))
          * (lit(2) * (col("cn") - col("nn")) + col("nn"))).as("contrib"))
      .groupBy(col("n_pos"), col("n_neg"))
      .agg(sum(col("contrib")).as("u2d"))
      .select(col("n_pos"), col("n_neg"),
        col("u2d").cast("long").as("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("""CAST((u2d * 500000 - (u2d * 500000)
                        % (CAST(n_pos AS DECIMAL(38,0)) * n_neg))
                      / (CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"""))
          .otherwise(lit(null).cast("long")).as("auc_ppm"))
  }

  /** Rank cutoff for [[qNdcg]]. */
  private val NdcgK = 10

  /** nDCG@10 of the behavioral ranking "items by view count" scored
    * against purchase counts as graded relevance — the search/recsys
    * quality metric completing the ranking tier (q_bm25_top produces a
    * ranking; q_hybrid_rrf fuses two; this GRADES one). Discounts live
    * on the verified 1e-6 BIGINT log2 grid (positions 2..11 are integer
    * arguments), each DCG term is rel·1e12 DIV qlog2micros(pos+1), and
    * ndcg_ppm is one BIGINT DIV of the two grid sums — no libm on
    * non-integer input anywhere.
    *
    * Scale stance (100 TB): the event scan partial-aggregates to the
    * ITEM-cardinality relation; both rank windows (predicted and ideal)
    * and the k-truncated sums run over that bounded relation — the
    * q_ewma epilogue argument. */
  def qNdcg(s: SparkSession, dir: String): DataFrame =
    ndcg(Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("event_type"))
      .groupBy(col("item"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("views"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("rel")))

  /** Core of [[qNdcg]] over any (item, views, rel) relation — exposed
    * for AnalyticsSpec's closed forms (aligned ranking → 1e6, and a
    * hand-computed inversion). */
  private[graft] def ndcg(items0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sf0.1 median, cuts on/off: 0.98/1.10 s
    val items = Lineage.cut(items0) // 2 consumers: both rankings
    val pred = items
      .withColumn("rk", row_number().over(
        Window.orderBy(col("views").desc, col("item").asc)))
      .filter(col("rk") <= NdcgK)
      .select(expr(s"sum(rel * 1000000000000 div " +
        s"CAST(round(log2(CAST(rk + 1 AS DOUBLE)) * 1000000) AS BIGINT))")
        .as("dcg_scaled"))
    val ideal = items
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rel").desc, col("item").asc)))
      .filter(col("rk") <= NdcgK)
      .select(expr(s"sum(rel * 1000000000000 div " +
        s"CAST(round(log2(CAST(rk + 1 AS DOUBLE)) * 1000000) AS BIGINT))")
        .as("idcg_scaled"))
    pred.crossJoin(broadcast(ideal))
      .select(col("dcg_scaled"), col("idcg_scaled"),
        when(col("idcg_scaled") > 0,
          expr("dcg_scaled * 1000000 div idcg_scaled"))
          .otherwise(lit(null).cast("long")).as("ndcg_ppm"))
  }

  /** Day-of-week seasonality index of order revenue: mean revenue on
    * each weekday relative to the overall daily mean, the multiplicative
    * seasonal profile behind staffing curves and anomaly baselines
    * (an observed Monday is judged against ×index_Monday, not the flat
    * mean). Weekday derives from pure epoch arithmetic — (day+4) mod 7,
    * 0=Sunday, anchored on epoch day 0 being a Thursday — identical in
    * both engines with no calendar/locale surface at all.
    *
    * Exactness: the index mean_dow/mean_all = sum_dow·n_all /
    * (n_dow·total) is ONE floored division of exact DECIMAL(38,0)
    * products (the q8_market_share remainder identity; HUGEINT on the
    * oracle side) — never a double, never two stacked floors.
    *
    * Scale stance: one rollup shuffle to the DATE-cardinality relation,
    * a 7-row partial agg over it, and constant-size arithmetic — the
    * q_ewma bounded epilogue. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame =
    seasonality(Tables.orders(s, dir)
      .select(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("x")))

  /** Core of [[qSeasonality]] over any (day, x) daily relation — exposed
    * for AnalyticsSpec's closed forms (uniform series → every index
    * exactly 1e6; a doubled weekday → exact rational indices). */
  private[graft] def seasonality(daily: DataFrame): DataFrame = {
    val byDow = daily
      .groupBy(expr("(day + 4) % 7").as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sum_cents"))
    val tot = daily.agg(count(lit(1)).as("n_all"), sum(col("x")).as("total"))
    byDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("sum_cents"),
        when(col("total") > 0,
          expr("""CAST((CAST(sum_cents AS DECIMAL(38,0)) * n_all * 1000000
                        - (CAST(sum_cents AS DECIMAL(38,0)) * n_all * 1000000)
                          % (CAST(n_days AS DECIMAL(38,0)) * total))
                      / (CAST(n_days AS DECIMAL(38,0)) * total)
                      AS BIGINT)"""))
          .otherwise(lit(null).cast("long")).as("index_ppm"))
      .orderBy("dow")
  }

  /** Journey-path truncation depth for [[qTopPaths]]. */
  private val PathDepth = 8

  /** Top user journeys: each user's chronological event-type sequence
    * (ties broken by event_id — a total order), truncated to the first
    * [[PathDepth]] steps, aggregated to the most common paths — the
    * Sankey/user-flow readout product analytics builds on top of
    * q_markov_transition's edge view (this is the PATH view: which
    * whole journeys dominate).
    *
    * Determinism: per-user ordering is done by sorting the collected
    * (ts, event_id, type) structs INSIDE the row (array_sort on a
    * struct sorts lexicographically by field order) — no window, no
    * reliance on shuffle order; the same total order is spelled
    * ORDER BY ts, event_id in the oracle's string_agg.
    *
    * Scale stance (100 TB): one user-keyed shuffle collects each
    * user's events (bounded by per-user activity, the q_sessionize
    * argument); paths then partial-agg map-side to the path-cardinality
    * relation, and TakeOrdered caps the output at 20 without a global
    * sort. */
  def qTopPaths(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("ts"), col("event_id"),
        col("event_type"))).as("evs"))
      .select(array_join(
        slice(transform(array_sort(col("evs")), e => e("event_type")),
          1, PathDepth), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(20)

  /** Anonymity threshold for [[qKAnonymity]]. */
  private val AnonK = 5

  /** k-anonymity audit of the customer table under the quasi-identifier
    * (market segment, nation, $1000-balance-bucket): how many QI
    * equivalence classes are re-identifiable (size < k), and how many
    * rows they expose — the governance gate run before any customer
    * extract leaves the warehouse. The balance bucket floors
    * NEGATIVES toward −∞ (integer `div` truncates toward zero, so the
    * bucket uses floor() on the exact cent value — spelled identically
    * in both engines).
    *
    * Scale stance: one partial-agg shuffle to QI-class cardinality,
    * then a 1-row summary — nothing else touches the data. */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(round(col("c_acctbal") * 100).cast("long") / 100000.0)
          .cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < AnonK, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("n") < AnonK, col("n")).otherwise(0L))
          .as("rows_at_risk"),
        min(col("n")).as("min_group"))
      .select(lit(AnonK.toLong).as("k"), col("n_groups"),
        col("n_violating"), col("rows_at_risk"), col("min_group"))

  /** Diversity threshold for [[qLDiversity]]. */
  private val DivL = 3

  /** Distinct l-diversity audit (Machanavajjhala, Gehrke, Kifer &
    * Venkitasubramaniam, ICDE'06) — the companion gate to
    * [[qKAnonymity]] and the reason k alone is not enough: a QI class
    * can be large (k-anonymous) yet attribute every row to ONE subject
    * if the sensitive attribute barely varies. Here the release under
    * audit is the events extract: quasi-identifier = (event_type, day,
    * $100 value bucket), sensitive attribute = the subject (user_id) —
    * a class with < l distinct users lets an observer who knows the QI
    * tie the rows to a person. Reported like the k-audit: violating
    * classes, rows they expose, and the worst class's diversity.
    * The value bucket floors the exact cent value (identical spelling
    * both engines, q_k_anonymity's rule).
    *
    * Scale stance: one partial-agg shuffle to QI-class cardinality
    * (count + distinct-subject count per class), then a 1-row summary —
    * the same shape as the k-audit, so auditing diversity costs what
    * auditing size already cost. */
  def qLDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        floor(round(col("value") * 100).cast("long") / 10000.0)
          .cast("long").as("val_bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("d"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("d") < DivL, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("d") < DivL, col("n")).otherwise(0L))
          .as("rows_at_risk"),
        min(col("d")).as("min_diversity"))
      .select(lit(DivL.toLong).as("l"), col("n_groups"),
        col("n_violating"), col("rows_at_risk"), col("min_diversity"))

  /** Closeness threshold for [[qTCloseness]]. */
  private val CloseT = 0.2

  /** Per-class (seg, nat, n, t) closeness relation — the core of
    * [[qTCloseness]] over any (seg, nat, b) release-shaped input,
    * exposed so the spec can pin the EMD algebra on engineered
    * distributions (a class distributed exactly like the global
    * population must read t = 0; an extreme-concentrated class must
    * dominate a mirrored-global one). */
  private[graft] def tClosenessFrom(base: DataFrame): DataFrame = {
    val cls = base.groupBy(col("seg"), col("nat"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val gb = cls.groupBy(col("b")).agg(sum(col("cnt")).as("g"))
    val classes = cls.groupBy(col("seg"), col("nat"))
      .agg(sum(col("cnt")).as("n"))
    val tot = gb.agg(sum(col("g")).as("nn"), count(lit(1)).as("m"))
    val dense = classes.crossJoin(broadcast(gb))
      .join(cls, Seq("seg", "nat", "b"), "left")
      .na.fill(0, Seq("cnt"))
    val w = Window.partitionBy(col("seg"), col("nat")).orderBy(col("b"))
    dense
      .withColumn("cc", sum(col("cnt")).over(w))
      .withColumn("cg", sum(col("g")).over(w))
      .crossJoin(broadcast(tot))
      .groupBy(col("seg"), col("nat"), col("n"), col("nn"), col("m"))
      .agg(sum(abs(col("cc") * col("nn") - col("cg") * col("n")))
        .as("num"))
      .select(col("seg"), col("nat"), col("n"),
        round(col("num").cast("double") /
          (col("n") * col("nn") * (col("m") - 1)).cast("double"), 6)
          .as("t"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    * third rung of the release-governance ladder and the reason
    * k-anonymity ([[qKAnonymity]]) plus l-diversity ([[qLDiversity]])
    * are still not enough: a QI class can be large AND diverse yet leak
    * through its sensitive-attribute DISTRIBUTION (all of one class's
    * balances in the top bracket tells an observer plenty even if the
    * exact values vary). A class violates t-closeness when the distance
    * between its sensitive distribution and the GLOBAL one exceeds t;
    * for an ORDERED attribute the distance is the Earth-Mover's
    * Distance, which on a discrete ordered domain collapses to
    * Σ|CDF_class − CDF_global| / (m−1). Same release as the k-audit:
    * QI = (market segment, nation), sensitive = the $1000 balance
    * bucket (ordered).
    *
    * Cross-engine exactness: the CDF comparison clears denominators —
    * |cc·N − cg·n| is exact BIGINT per bucket (fits while
    * N·max(cc) < 2⁶³, i.e. any release under ~3×10⁹ rows; widen the
    * products to DECIMAL beyond), summed to one BIGINT numerator per
    * class, with ONE shared double division + round(,6) at the end
    * (the q_regression identical-expression-tree rule).
    *
    * Scale stance (100 TB): one partial-agg shuffle to the class×bucket
    * grid; the bucket dimension and global CDF are broadcast (the
    * sensitive domain is bounded — here ~11 buckets); per-class
    * windows order at most m rows each. Cost is the k-audit's shape
    * plus a broadcast — auditing the distribution costs what auditing
    * size already cost. */
  def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(
      col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
      floor(round(col("c_acctbal") * 100).cast("long") / 100000.0)
        .cast("long").as("b"))
    tClosenessFrom(base)
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("t") > CloseT, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("t") > CloseT, col("n")).otherwise(0L))
          .as("rows_at_risk"),
        max(col("t")).as("max_t"))
      .select(lit(CloseT).as("t_threshold"), col("n_groups"),
        col("n_violating"), col("rows_at_risk"), col("max_t"))
  }

  /** Seasonally-adjusted anomaly days: daily revenue judged against its
    * WEEKDAY median (a Saturday against Saturdays), residuals screened
    * by the global median/MAD gate — the composition of q_seasonality's
    * weekly profile with q_robust_outliers' heavy-tail-safe flag, and
    * the difference between "weekends look like incidents" and a usable
    * alert stream. Output is the top-20 days by |residual| with the
    * flag, so quiet fixtures still verify non-vacuously.
    *
    * Cross-engine exactness: daily cents are BIGINT; both medians are
    * the exact interpolating percentile (quantile_cont parity proven by
    * q_median_price) over integer inputs, so every residual and the
    * 4.4478·MAD boundary are bit-identical IEEE ops on identical
    * values; ordering ties break by day.
    *
    * Scale stance: one rollup shuffle to the DATE-cardinality relation;
    * everything after (7 weekday medians broadcast back, one global
    * MAD, top-20) is the q_ewma bounded epilogue. */
  def qSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .select(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("x"))
      .withColumn("dow", expr("(day + 4) % 7"))
    val med = daily.groupBy("dow")
      .agg(expr("percentile(x, 0.5)").as("med"))
    val resid = daily.join(broadcast(med), "dow")
      .withColumn("resid", col("x") - col("med"))
    val mad = resid.agg(expr("percentile(abs(resid), 0.5)").as("mad"))
    resid.crossJoin(broadcast(mad))
      .select(col("day"), col("dow"), col("x").as("cents"),
        round(col("med"), 4).as("dow_median"),
        round(col("resid"), 4).as("resid"),
        (abs(col("resid")) > col("mad") * 4.4478).as("is_anomaly"))
      .orderBy(abs(col("resid")).desc, col("day").asc)
      .limit(20)
  }

  /** Incremental maintenance of a NON-INVERTIBLE aggregate (per-customer
    * max + count) under retractions — the case [[qIncrementalAgg]]'s
    * snapshot+delta fold cannot handle: sums subtract, maxes don't. A
    * deterministic delete batch retracts orders with
    * o_orderkey ≡ 13 (mod 31) — denser than the q_sequence_gaps
    * convention so ALL THREE paths fire at every shipped fixture scale;
    * the view then splits three ways, and each row is TAGGED with the
    * maintenance path it took:
    *  - `untouched`: no deletes hit the group — snapshot row survives;
    *  - `folded`: deletes hit, but all below the stored max — count
    *    folds arithmetically, max provably unchanged (delete-max <
    *    view-max), NO base access;
    *  - `repaired`: a delete carried the group max — the only case
    *    that re-reads the group's surviving base rows (semi-join-pruned
    *    to exactly the affected groups).
    * The ORACLE recomputes the view from the surviving rows from
    * scratch AND re-derives the path labels from first principles, so
    * the hash match proves both the values and the case analysis.
    *
    * Scale stance (100 TB): view0 and the delete rollup are partial
    * aggs; the repair scan is base-pruned by a semi join on the
    * affected-group keys — its cost is proportional to the DAMAGED
    * groups, not the table (with the base clustered by the group key it
    * prunes at the storage layer too, the q_table_diff drill-down
    * doctrine); fully-deleted groups drop via the dn = n0 filter. */
  def qIncrementalMinmax(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_custkey").as("c"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 31 === 13).as("del"))
      // sf0.1 median, cuts on/off: 0.93/1.23 s (both cuts)
      .transform(Lineage.cut) // 3 consumers: snapshot, deletes, repair scan
    val view0 = base.groupBy("c")
      .agg(max(col("cents")).as("m0"), count(lit(1)).as("n0"))
    val dels = base.filter(col("del")).groupBy("c")
      .agg(max(col("cents")).as("dmax"), count(lit(1)).as("dn"))
    val j = view0.join(dels, Seq("c"), "left_outer")
      // sf0.1 median, cuts on/off: 0.93/1.23 s (both cuts)
      .transform(Lineage.cut) // 3 consumers: the three path branches
    val untouched = j.filter(col("dn").isNull)
      .select(col("c"), col("n0").as("n"), col("m0").as("max_cents"),
        lit("untouched").as("path"))
    val folded = j.filter(col("dn").isNotNull && col("dn") < col("n0")
        && col("dmax") < col("m0"))
      .select(col("c"), (col("n0") - col("dn")).as("n"),
        col("m0").as("max_cents"), lit("folded").as("path"))
    val affected = j.filter(col("dn").isNotNull && col("dn") < col("n0")
        && col("dmax") === col("m0")).select(col("c"))
    val repaired = base.filter(!col("del"))
      .join(broadcast(affected), Seq("c"), "left_semi")
      .groupBy("c")
      .agg(count(lit(1)).as("n"), max(col("cents")).as("max_cents"))
      .select(col("c"), col("n"), col("max_cents"),
        lit("repaired").as("path"))
    untouched.unionAll(folded).unionAll(repaired)
      .withColumnRenamed("c", "o_custkey")
      .orderBy("o_custkey")
  }

  /** Theil–Sen robust trend + Kendall rank correlation of daily revenue,
    * in one pass over the pairwise day grid.
    *
    * The OLS slope (q_regression) is wrecked by a single outlier day; the
    * Theil–Sen estimator — the MEDIAN of all pairwise slopes
    * (cents_j − cents_i)/(day_j − day_i), i < j — has a 29% breakdown
    * point and is the standard robust trend test (Sen 1968). The same
    * pair relation yields Kendall's τ (concordant minus discordant pairs)
    * for free, so one query answers both "how fast is revenue trending"
    * and "how monotone is the trend".
    *
    * Exactness: slopes are computed in integer micro-units/day with an
    * explicitly sign-safe floor division — slope = (dy·1e6 − pmod(dy·1e6,
    * dx))/dx, spelled `pmod` on Spark and ((a % b) + b) % b in DuckDB, so
    * negative dy floors identically in both engines (bare `div`/`//`
    * truncate toward zero and would disagree with floor on negatives).
    * The median is read off as the two central order statistics (equal
    * when n_pairs is odd), so no averaging of two slopes ever leaves the
    * integer grid. τ is reported as a ppm ratio by the same floor rule.
    *
    * Ceilings (round-11 sweep): num = dy·1e6 is BIGINT-exact while a
    * daily revenue DELTA stays < 9.2e12 cents — ~sf 900 on TPC-H's
    * fixed calendar (ANSI makes the breach fail-loud); past that, num
    * and the pmod floor division promote to DECIMAL(38,0) together.
    * τ's (nc−nd)·1e6 is calendar-bounded (≤ 3.1e6 pairs → ≤ 3.1e12)
    * and can never wrap at any corpus scale.
    *
    * Scale stance (100 TB): the pair set is CALENDAR-bounded — the daily
    * rollup has at most ~2,500 rows at ANY corpus scale (TPC-H's 7-year
    * span), so the self-join is ≤ ~3.1M pairs whether the fact table is
    * 60k rows or 100 TB; the one corpus-sized operation is the initial
    * partial-agg rollup. The global median sort runs over that bounded
    * pair relation (the q_ks_test value-resolution doctrine), never over
    * corpus cardinality. */
  def qTheilSen(s: SparkSession, dir: String): DataFrame =
    theilSen(Tables.orders(s, dir)
      .select(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("cents")))

  /** Core of [[qTheilSen]] over any (day, cents) daily relation — exposed
    * for AnalyticsSpec's closed forms (pure linear series → slope exactly
    * k·1e6 and τ = 1e6; one outlier day → median slope unmoved while the
    * OLS slope is dragged).
    *
    * PRECONDITION (r15, ADVICE): `day` values must be DISTINCT — the
    * closed-form pair count np = n·(n−1)/2 assumes every (da < db) pair
    * exists exactly once. [[qTheilSen]] guarantees this via its
    * groupBy(day) rollup; a test caller passing duplicate days would get
    * a wrong n_pairs and a mis-indexed median. */
  private[graft] def theilSen(daily: DataFrame): DataFrame = {
    val a = daily.select(col("day").as("da"), col("cents").as("ca"))
    val b = daily.select(col("day").as("db"), col("cents").as("cb"))
    val pairs = a.join(b, col("da") < col("db"))
      .select(((col("cb") - col("ca")) * 1000000L).as("num"),
        (col("db") - col("da")).as("dx"))
      .select(expr("(num - pmod(num, dx)) div dx").as("slope_uppm"),
        signum(col("num")).cast("long").as("sgn"))
    // r14 optimization (guide §2.4 "don't compute what you throw away"):
    // n_pairs is CLOSED-FORM — every (da < db) day pair exists exactly
    // once, so np = n_days·(n_days−1)/2, a broadcast scalar. That removes
    // one of the two former single-partition window passes over the full
    // pair stream (count() OVER ()); the rank window stays, over a
    // calendar-bounded (≤ ~3.1M row) relation. (A groupBy-slope
    // "value-resolution" respelling was A/B-tested and REVERTED: slopes
    // are near-unique here, so the extra 2.9M-group hash aggregate
    // doubled the cost, 4.5 → 8.4 s at sf0.1.)
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    val npDf = nDays.select(expr("n_days * (n_days - 1) div 2").as("np"))
    val ranked = pairs.select(col("slope_uppm"), col("sgn"),
        row_number().over(Window.orderBy(col("slope_uppm"))).as("rn"))
      .crossJoin(broadcast(npDf))
    val agg = ranked.agg(
      coalesce(max(col("np")), lit(0L)).as("n_pairs"),
      min(when(col("rn") === expr("(np + 1) div 2"), col("slope_uppm")))
        .as("slope_lo_uppm"),
      min(when(col("rn") === expr("(np + 2) div 2"), col("slope_uppm")))
        .as("slope_hi_uppm"),
      count(when(col("sgn") === 1, lit(1))).as("n_concordant"),
      count(when(col("sgn") === -1, lit(1))).as("n_discordant"),
      count(when(col("sgn") === 0, lit(1))).as("n_ties"))
    nDays.crossJoin(agg)
      .select(col("n_days"), col("n_pairs"), col("slope_lo_uppm"),
        col("slope_hi_uppm"), col("n_concordant"), col("n_discordant"),
        col("n_ties"),
        when(col("n_pairs") > 0,
          expr("""(((n_concordant - n_discordant) * 1000000
                   - pmod((n_concordant - n_discordant) * 1000000, n_pairs))
                  div n_pairs)""")).as("tau_ppm"))
  }

  /** Decile gains/lift curve of a behavioural score — "if we contact the
    * top-k% of users by engagement, what share of buyers do we reach?" —
    * the standard targeting-model readout (cumulative gains + per-decile
    * lift).
    *
    * Score = count of pre-purchase engagement events (view/click);
    * outcome = the user ever purchased. Deciles are ntile(10) over the
    * TOTAL order (score desc, user_id), so tied scores split
    * deterministically and both engines agree row-for-row. capture_ppm is
    * the cumulative share of all buyers reached through that decile;
    * lift_ppm is the decile's buyer rate over the global rate, both exact
    * integer ratios (non-negative, so plain floor DIV is engine-safe).
    *
    * Scale stance (100 TB): one user-keyed partial agg reduces the event
    * stream to user cardinality; the ntile window sorts that user-level
    * relation (the q_rfm shape); the decile rollup and its cumulative
    * window are 10 rows. */
  def qLiftCurve(s: SparkSession, dir: String): DataFrame =
    liftCurve(Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type").isin("view", "click"), lit(1)))
        .as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("buyer")))

  /** Core of [[qLiftCurve]] over any (user_id, score, buyer) relation —
    * exposed for AnalyticsSpec's closed forms (buyers exactly the top
    * scorers → deciles 1..k capture everything at maximal lift; uniform
    * buyer rate → every lift_ppm exactly 1e6). */
  private[graft] def liftCurve(perUser: DataFrame): DataFrame = {
    val decile = perUser
      .select(col("buyer"),
        ntile(10).over(Window.orderBy(col("score").desc, col("user_id")))
          .as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("buyer")).as("n_buyers"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    decile
      .select(col("decile"), col("n_users"), col("n_buyers"),
        sum(col("n_buyers")).over(w).as("cum_buyers"),
        sum(col("n_buyers")).over(tot).as("tb"),
        sum(col("n_users")).over(tot).as("tu"))
      .select(col("decile"), col("n_users"), col("n_buyers"),
        col("cum_buyers"),
        when(col("tb") > 0, expr("(cum_buyers * 1000000) div tb"))
          .as("capture_ppm"),
        when(col("tb") > 0,
          expr("(n_buyers * tu * 1000000) div (n_users * tb)"))
          .as("lift_ppm"))
      .orderBy("decile")
  }

  /** Effect-size readout over the q_chi_square contingency table:
    * Cramér's V, the φ coefficient, and Pearson's contingency C — the
    * "is this association MEANINGFUL, not just significant" numbers a
    * 100 TB chi-square always needs next (at large N everything is
    * significant; V is N-free).
    *
    * Built ON the shipped q_chi_square output (the eval-doctrine stance:
    * derived metrics consume the query they grade), so the integer
    * chi2_micros, n_obs and dof arrive exact; only the final constant-size
    * sqrt arithmetic runs in double, from identical BIGINT inputs in both
    * engines (IEEE-correctly-rounded sqrt — the q_regression precedent).
    * Degenerate tables (empty corpus → dof NULL, or a single row/column →
    * dof 0) CASE-guard to NULL rather than divide by zero. */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val chi = qChiSquare(s, dir)
    val chi2 = col("chi2_micros").cast("double") / lit(1e6)
    val n = col("n_obs").cast("double")
    val k = least(col("n_segs"), col("n_prios")) - lit(1L)
    chi.select(col("n_obs"), col("dof"), col("chi2_micros"),
      when(col("n_obs") > 0 && col("dof") > 0,
        round(sqrt(chi2 / (n * k.cast("double"))), 6)).as("cramers_v"),
      when(col("n_obs") > 0, round(sqrt(chi2 / n), 6)).as("phi"),
      when(col("n_obs") > 0, round(sqrt(chi2 / (chi2 + n)), 6))
        .as("contingency_c"))
  }

  /** CEP pattern window: 1 hour in epoch micros (shared with the
    * streaming twin, Windows.patternStream). */
  private[graft] val PatternWindowUs = 3600000000L

  /** Complex-event pattern matching (the MATCH_RECOGNIZE / Flink-CEP
    * tier): per user, count purchases that complete the pattern
    * `view  (anything but error)*  purchase` within [[PatternWindowUs]] —
    * i.e. a purchase attributable to a recent view with no error event
    * between them. AFTER MATCH SKIP TO NEXT ROW semantics: one view may
    * anchor several purchases; every purchase is evaluated once.
    *
    * Plan: the standard relational unrolling of a CEP automaton — ONE
    * user-keyed window pass computes, for every event, the running
    * "latest prior view" and "latest prior error" timestamps (conditional
    * MAX over ROWS UNBOUNDED PRECEDING..1 PRECEDING); a purchase matches
    * iff last_view exists, is newer than last_error, and is within the
    * hour. No per-row rescans, no state machine fold, no regex.
    *
    * Scale stance (100 TB): one shuffle on user_id; window state is two
    * running maxima (O(1) per partition, any frame length); output is
    * purchase-active user cardinality. The streaming tier's
    * mapGroupsWithState handles the online twin of the same automaton. */
  def qEventPattern(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("t_us"), col("event_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val matched = e
      .withColumn("last_v",
        max(when(col("event_type") === "view", col("t_us"))).over(w))
      .withColumn("last_e",
        max(when(col("event_type") === "error", col("t_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("m",
        (col("last_v").isNotNull &&
          (col("last_e").isNull || col("last_e") < col("last_v")) &&
          col("t_us") - col("last_v") <= PatternWindowUs).cast("long"))
    matched.groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("m")).as("n_matched"),
        coalesce(min(when(col("m") === 1L, col("t_us"))), lit(-1L))
          .as("first_match_us"))
      .orderBy("user_id")
  }

  /** Poisson(1) CDF in ppm — the shared resample-weight thresholds of
    * [[qBootstrapCi]] (identical literals in the oracle, so the weight
    * function is engine-independent by construction). */
  private val PoissonCdfPpm =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
  private val BootstrapB = 64

  /** Poisson-bootstrap confidence interval for the mean purchase value —
    * the resampling scheme that actually runs at 100 TB (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", 2012): instead of
    * drawing n rows with replacement (which needs global coordination),
    * each row independently contributes to resample b with weight
    * ~ Poisson(1), derived here deterministically from
    * h32(event_id ':' b) so both engines draw the SAME resamples. Emits
    * the [[BootstrapB]] per-resample means plus point estimate and the
    * nearest-rank 2.5%/97.5% percentile interval (ranks 2 and 63 of 64).
    *
    * Scale stance: the only corpus-touching work is one narrow scan
    * exploded ×B rows of (b, weight, cents) that partial-aggregate
    * map-side into B groups — shuffle traffic is B rows per task
    * regardless of data size; the rank window orders a 64-row relation. */
  /** Purchase rows as (event_id, cents) — the bootstrap population. */
  private def purchases(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))

  /** The shared Poisson-resample stream (b, cents, w) of [[qBootstrapCi]]
    * and [[qBootstrapMedian]] — one weight rule, both statistics. */
  private def poissonResamples(s: SparkSession, dir: String): DataFrame = {
    val weight = PoissonCdfPpm.zipWithIndex
      .foldRight(lit(PoissonCdfPpm.length.toLong)) { case ((thr, k), rest) =>
        when(col("u") < thr, k.toLong).otherwise(rest)
      }
    purchases(s, dir)
      .select(col("cents"),
        explode(sequence(lit(0L), lit(BootstrapB - 1L))).as("b"),
        col("event_id"))
      .withColumn("u", TextPipeline.h32(concat(col("event_id").cast("string"),
        lit(":"), col("b").cast("string"))) % 1000000L)
      .withColumn("w", weight)
      .select(col("b"), col("cents"), col("w"))
  }

  def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val purch = purchases(s, dir)
    // cut (r14): BOTH the resample output rows and the CI rank window
    // consume this B-row relation; without the cut each consumer re-ran
    // the 64× exploded resample stream (runtime exchange reuse only
    // covered one of the two duplicated subtrees — PLANS.md reused: 1
    // against 2 duplicated scans)
    // sf0.1 median, cuts on/off: 1.15/1.27 s
    val means = Lineage.cut(poissonResamples(s, dir)
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("cents")).as("sum_cents"))
      .withColumn("mean_milli",
        when(col("n_eff") > 0, expr("sum_cents * 1000 div n_eff"))))
    val resamples = means.select(lit("resample").as("row_kind"), col("b"),
      col("n_eff"), col("sum_cents"), col("mean_milli"))
    val point = purch
      .agg(count(lit(1)).as("n_eff"), sum(col("cents")).as("sum_cents"))
      .select(lit("point").as("row_kind"), lit(-1L).as("b"),
        col("n_eff"), col("sum_cents"),
        when(col("n_eff") > 0, expr("sum_cents * 1000 div n_eff"))
          .as("mean_milli"))
    // asc_nulls_last: Spark defaults NULLS FIRST, DuckDB's plain ORDER BY
    // defaults NULLS LAST — a degenerate n_eff = 0 resample (null mean)
    // would otherwise rank first here and last in the oracle
    val rk = means.withColumn("rn",
      row_number().over(Window.orderBy(
        col("mean_milli").asc_nulls_last, col("b"))))
    val ci = rk.filter(col("rn") === 2 || col("rn") === BootstrapB - 1)
      .select(when(col("rn") === 2, "ci_lo").otherwise("ci_hi").as("row_kind"),
        lit(-1L).as("b"), lit(-1L).as("n_eff"),
        lit(-1L).as("sum_cents"), col("mean_milli"))
    resamples.unionAll(point).unionAll(ci).orderBy("row_kind", "b")
  }

  /** Poisson-bootstrap CI for the MEDIAN purchase value — the statistic
    * with no closed-form standard error, i.e. the case the bootstrap
    * exists for. Per resample the weighted lower median (smallest value
    * whose doubled cumulative weight reaches the total) comes from the
    * VALUE-RESOLUTION cumsum doctrine (q_ks_test): the window runs over
    * distinct (resample, value) pairs, never corpus rows. Same
    * deterministic Poisson weights as [[qBootstrapCi]]; interval =
    * nearest-rank 2.5%/97.5% of the 64 resample medians.
    *
    * Scale stance: the only corpus pass is the shared resample stream,
    * partial-aggregated map-side to B × value-resolution groups; every
    * window downstream orders those bounded relations. */
  def qBootstrapMedian(s: SparkSession, dir: String): DataFrame = {
    val grouped = poissonResamples(s, dir)
      .groupBy("b", "cents").agg(sum(col("w")).as("wv"))
    val wCum = Window.partitionBy("b").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val meds = grouped
      .withColumn("cw", sum(col("wv")).over(wCum))
      .withColumn("tot", sum(col("wv")).over(Window.partitionBy("b")))
      .filter(col("cw") * 2 >= col("tot"))
      .groupBy("b").agg(min(col("cents")).as("median_cents"),
        min(col("tot")).as("n_eff"))
    val resamples = meds.select(lit("resample").as("row_kind"), col("b"),
      col("n_eff"), col("median_cents"))
    // point estimate: the same lower-median rule at weight 1
    val pg = purchases(s, dir).groupBy("cents").agg(count(lit(1)).as("wv"))
    val pCum = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val point = pg
      .withColumn("cw", sum(col("wv")).over(pCum))
      .crossJoin(broadcast(pg.agg(sum(col("wv")).as("tot"))))
      .filter(col("cw") * 2 >= col("tot"))
      .agg(min(col("cents")).as("median_cents"), min(col("tot")).as("n_eff"))
      .select(lit("point").as("row_kind"), lit(-1L).as("b"),
        col("n_eff"), col("median_cents"))
    val rk = meds.withColumn("rn",
      row_number().over(Window.orderBy(col("median_cents"), col("b"))))
    val ci = rk.filter(col("rn") === 2 || col("rn") === BootstrapB - 1)
      .select(when(col("rn") === 2, "ci_lo").otherwise("ci_hi").as("row_kind"),
        lit(-1L).as("b"), lit(-1L).as("n_eff"), col("median_cents"))
    resamples.unionAll(point).unionAll(ci).orderBy("row_kind", "b")
  }

  /** Point-in-time table reconstruction ("time travel"): treat the event
    * stream as a per-user upsert log and rebuild the table state AS OF
    * three cut timestamps (¼, ½, ¾ of the observed time range), then
    * summarize each snapshot per state type — the lakehouse
    * `VERSION AS OF` semantic expressed over a raw CDC feed, and the
    * audit for "what did the table say when the model trained".
    *
    * Plan: ONE user-keyed window turns every event into a validity
    * interval [t, next_t) (the qScd2 interval algebra, un-deduplicated —
    * every upsert is a version); the 3-row cut spine is BROADCAST so the
    * interval-containment join is a map-side nested-loop against 3
    * literals, never a shuffle; each snapshot partial-aggregates to
    * ≤ |cuts|·|types| groups. At 100 TB: the window inherits the CDC
    * feed's user partitioning, snapshots cost zero extra passes. */
  def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("t"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val v = e.withColumn("nxt",
      coalesce(lead(col("t"), 1).over(w), lit(Scd2HighDateUs)))
    val cuts = e.agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .crossJoin(s.range(1, 4).select(col("id").as("k")))
      .select(col("k").as("cut_idx"),
        expr("lo + (hi - lo) * k div 4").as("cut_us"))
    v.join(broadcast(cuts),
        col("t") <= col("cut_us") && col("cut_us") < col("nxt"))
      .groupBy("cut_idx", "cut_us", "event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("sum_cents"))
      .orderBy("cut_idx", "event_type")
  }

  /** Change-data-feed between two table versions — the diff twin of
    * [[qTimeTravel]] (Delta CDF / `table_changes` semantics): reconstruct
    * the per-user state at the ¼ and ¾ cuts of the observed range and
    * classify every key as `added` (absent → present), `changed`
    * (state differs) or `unchanged`, rolled up as a state-transition
    * matrix (from_type → to_type) with before/after value mass. The
    * audit for "what moved between the snapshot the model trained on and
    * today's".
    *
    * Plan: the SAME validity-interval window as qTimeTravel feeds ONE
    * broadcast 2-cut containment join; the two snapshots split from that
    * result and full-outer-merge on user_id — so the whole diff costs
    * one window pass plus one key-cardinality shuffle; the transition
    * rollup collapses to ≤ (|types|+1)² groups map-side. */
  def qCdcNetChanges(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("t"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val v = e.withColumn("nxt",
      coalesce(lead(col("t"), 1).over(w), lit(Scd2HighDateUs)))
    val cuts = e.agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .crossJoin(s.range(1, 4, 2).select(col("id").as("k")))
      .select(col("k").as("cut_idx"),
        expr("lo + (hi - lo) * k div 4").as("cut_us"))
    val st = v.join(broadcast(cuts),
        col("t") <= col("cut_us") && col("cut_us") < col("nxt"))
      .select(col("cut_idx"), col("user_id"), col("event_type"), col("cents"))
      // 2 consumers (before/after snapshots): without this the window +
      // interval join replays per branch — 2 full event scans; the
      // materialized relation is only 2 rows per live key
      // sf0.1 median, cuts on/off: 0.96/1.15 s
      .transform(Lineage.cut)
    val before = st.filter(col("cut_idx") === 1)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("cents").as("cents_from"))
    val after = st.filter(col("cut_idx") === 3)
      .select(col("user_id"), col("event_type").as("to_type"),
        col("cents").as("cents_to"))
    before.join(after, Seq("user_id"), "full_outer")
      .select(
        when(col("from_type").isNull, "added")
          .when(col("from_type") === col("to_type") &&
            col("cents_from") === col("cents_to"), "unchanged")
          .otherwise("changed").as("kind"),
        coalesce(col("from_type"), lit("__none__")).as("from_type"),
        // the event log never deletes a key (cut1 <= cut3 makes before-keys
        // a subset of after-keys), so '__gone__' is unreachable TODAY — the
        // guard keeps a future feed-semantics change (key deletion) from
        // silently producing null-group 'changed' rows
        coalesce(col("to_type"), lit("__gone__")).as("to_type"),
        coalesce(col("cents_from"), lit(0L)).as("cf"),
        coalesce(col("cents_to"), lit(0L)).as("ct"))
      .groupBy("kind", "from_type", "to_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("cf")).as("sum_cents_from"),
        sum(col("ct")).as("sum_cents_to"))
      .orderBy("kind", "from_type", "to_type")
  }

  /** Shared resample CTE chain of the two bootstrap oracles — ends in
    * `p(event_id, cents)` and `w(b, cents, w)`. */
  private lazy val bootstrapResampleCtes: String = {
    val caseW = PoissonCdfPpm.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonCdfPpm.length} END")
    s"""p AS (SELECT event_id, CAST(round(value * 100) AS BIGINT)
       |        AS cents FROM events WHERE event_type = 'purchase'),
       |r AS (SELECT cents, event_id,
       |        CAST(unnest(range(0, $BootstrapB)) AS BIGINT) AS b FROM p),
       |u AS (SELECT b, cents,
       |        ${TextPipeline.duckH32(
                  "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
       |          % 1000000 AS u FROM r),
       |w AS (SELECT b, cents, $caseW AS w FROM u)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attribution_linear" -> (qAttributionLinear _),
    "q_cdc_net_changes" -> (qCdcNetChanges _),
    "q_bootstrap_median" -> (qBootstrapMedian _),
    "q_time_travel" -> (qTimeTravel _),
    "q_event_pattern" -> (qEventPattern _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_theil_sen" -> (qTheilSen _),
    "q_lift_curve" -> (qLiftCurve _),
    "q_cramers_v" -> (qCramersV _),
    "q_incremental_minmax" -> (qIncrementalMinmax _),
    "q_seasonal_anomaly" -> (qSeasonalAnomaly _),
    "q_top_paths" -> (qTopPaths _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_l_diversity" -> (qLDiversity _),
    "q_t_closeness" -> (qTCloseness _),
    "q_seasonality" -> (qSeasonality _),
    "q_incremental_join" -> (qIncrementalJoin _),
    "q_auc" -> (qAuc _),
    "q_ndcg" -> (qNdcg _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_changepoint" -> (qChangepoint _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_psi" -> (qPsi _),
    "q_uptime" -> (qUptime _),
    "q_conversion_lag" -> (qConversionLag _),
    "q_survival" -> (qSurvival _),
    "q_ks_test" -> (qKsTest _),
    "q_attribution" -> (qAttribution _),
    "q_gini" -> (qGini _),
    "q_twap" -> (qTwap _),
    "q_peak_concurrency" -> (qPeakConcurrency _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_chi_square" -> (qChiSquare _),
    "q_ewma" -> (qEwma _),
    "q_rolling_distinct" -> (qRollingDistinct _),
    "q_rolling_distinct_approx" -> (qRollingDistinctApprox _),
    "q_hll_incremental" -> (qHllIncremental _),
    "q_hll_store_erase" -> (qHllStoreErase _),
    "q_hll_overlap" -> (qHllOverlap _),
    "q_cms_freq" -> (qCmsFreq _),
    "q_cms_incremental" -> (qCmsIncremental _),
    "q_cms_erase" -> (qCmsErase _),
    "q_cms_join_size" -> (qCmsJoinSize _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q_sessionize" -> (qSessionize _),
    "q_revenue_concentration" -> (qRevenueConcentration _),
    "q_ab_test" -> (qAbTest _),
    "q_cuped" -> (qCuped _),
    "q_scd2" -> (qScd2 _),
    "q_autocorr" -> (qAutocorr _),
    "q_markov_transition" -> (qMarkovTransition _),
    "q_bm25_top" -> (qBm25Top _),
    "q_hybrid_rrf" -> (qHybridRrf _),
    "q_bloom_semi" -> (qBloomSemi _),
    "q_bloom_incremental" -> (qBloomIncremental _),
    "q_rfm" -> (qRfm _),
    "q_stratified_sample" -> (qStratifiedSample _),
  )

  /** DuckDB spelling of the 1e-6 integer-count log2 grid point. */
  private def ql(e: String): String =
    s"CAST(round(log2(CAST($e AS DOUBLE)) * 1000000.0) AS BIGINT)"

  /** Shared q_chi_square oracle body — also the CTE base of
    * q_cramers_v's effect-size readout. */
  private val chiSquareSql: String =
    """WITH j AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS prio
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (SELECT seg, prio, count(*) AS n FROM j GROUP BY 1, 2),
      |rm AS (SELECT seg, CAST(sum(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
      |cm AS (SELECT prio, CAST(sum(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
      |terms AS (
      |  SELECT seg, prio, total,
      |    CAST(round((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e * 1e6)
      |      AS BIGINT) AS term_micros
      |  FROM (SELECT cells.*, rn, cn, total,
      |          CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(total AS DOUBLE) AS e
      |        FROM cells JOIN rm USING (seg) JOIN cm USING (prio), t) x)
      |SELECT max(total) AS n_obs, count(*) AS n_cells,
      |  CAST(count(DISTINCT seg) AS BIGINT) AS n_segs,
      |  CAST(count(DISTINCT prio) AS BIGINT) AS n_prios,
      |  CAST((count(DISTINCT seg) - 1) * (count(DISTINCT prio) - 1) AS BIGINT)
      |    AS dof,
      |  CAST(sum(term_micros) AS BIGINT) AS chi2_micros
      |FROM terms""".stripMargin

  /** One spelling of the rolling-HLL register chain for the full twin,
    * the incremental rung, and the erased generation — `finalWhere`
    * filters the reported days (the cutoff predicate), `userWhere` the
    * event scan (the erasure-subject predicate). */
  /** The uh/regs/grid/dense register-chain CTE prelude — ONE spelling
    * for every HLL oracle (rolling, incremental, erase, overlap); the
    * caller injects its event-scan predicate and stacks its own window
    * CTEs on top of `dense`. */
  private def hllDenseCte(uhWhere: String): String = {
    import graft.plans.HllDet
    s"""uh AS (
       |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    ${TextPipeline.duckH32("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events $uhWhere),
       |regs AS (
       |  SELECT day, ${HllDet.duckJ("h")} AS j,
       |    max(${HllDet.duckRho("h")}) AS r
       |  FROM uh GROUP BY 1, 2),
       |grid AS (
       |  SELECT day, j FROM (SELECT DISTINCT day FROM uh),
       |    (SELECT unnest(range(0, ${HllDet.M})) AS j)),
       |dense AS (
       |  SELECT grid.day, grid.j, coalesce(regs.r, 0) AS r,
       |    date_diff('day', DATE '1970-01-01', grid.day) AS dn
       |  FROM grid LEFT JOIN regs
       |    ON grid.day = regs.day AND grid.j = regs.j)""".stripMargin
  }

  private def rollingHllOracleSql(finalWhere: String,
      userWhere: String = ""): String = {
    import graft.plans.HllDet
    s"""WITH ${hllDenseCte(userWhere)},
       |win AS (
       |  SELECT day, j,
       |    max(r) OVER (PARTITION BY j ORDER BY dn
       |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rm
       |  FROM dense),
       |st AS (
       |  SELECT day, ${HllDet.duckZVDense("rm", "z", "v")}
       |  FROM win GROUP BY day)
       |SELECT strftime(day, '%Y-%m-%d') AS day,
       |  ${HllDet.duckEstimateFromZV("active_7d_approx")}
       |FROM st $finalWhere ORDER BY day""".stripMargin
  }

  /** DuckDB row-index spine derived from [[CmsD]] — the one sketch
    * parameter the oracles would otherwise hardcode. */
  private def duckCmsRows: String =
    s"(SELECT unnest([${(0 until CmsD).mkString(", ")}]) AS i)"

  /** ONE CMS oracle spelling for all three rungs — the full counter
    * recompute (bigram counts → row-salted h32 cells → cell sums →
    * min-over-rows estimates → support floor) over the docs the rung's
    * final answer covers. q_cms_incremental and q_cms_erase answer via
    * stored generations (merge / subtraction), so gating them against
    * the direct recompute re-proves the store algebra every verify. */
  private def cmsOracleSql(docsWhere: String): String =
    s"""WITH d AS (SELECT ${TextPipeline.duckToks} AS w
       |  FROM documents $docsWhere),
       |bg AS (SELECT unnest(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i+1])) AS word FROM d),
       |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
       |  FROM bg GROUP BY word),
       |cells AS (SELECT word, n, i,
       |    ${TextPipeline.duckH32("CAST(i AS VARCHAR) || ':' || word")}
       |      % $CmsW AS c
       |  FROM wc CROSS JOIN $duckCmsRows),
       |sk AS (SELECT i, c, CAST(sum(n) AS BIGINT) AS cnt
       |  FROM cells GROUP BY i, c),
       |est AS (SELECT word, n, min(cnt) AS est
       |  FROM cells JOIN sk USING (i, c) GROUP BY word, n),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM wc)
       |SELECT word, est, n AS n_exact, est - n AS overcount
       |FROM est, tot WHERE est >= t // $CmsSupportDiv
       |ORDER BY word""".stripMargin

  val oracle: Map[String, String] = Map(
    // Same lookback join as q_attribution, equal split with the same
    // largest-remainder rule over the identically ordered touches.
    "q_attribution_linear" ->
      s"""WITH conv AS (SELECT user_id, event_id AS conv_id,
         |    epoch_us(ts) AS p_us,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |touch AS (SELECT user_id, event_type AS channel,
         |    event_id AS touch_id, epoch_us(ts) AS t_us
         |  FROM events WHERE event_type IN ('click', 'view')),
         |j AS (SELECT c.conv_id, c.cents, t.channel, t.touch_id, t.t_us
         |      FROM conv c LEFT JOIN touch t ON c.user_id = t.user_id
         |        AND t.t_us <= c.p_us
         |        AND t.t_us > c.p_us - $AttribWindowUs),
         |x AS (SELECT *,
         |        count(touch_id) OVER (PARTITION BY conv_id) AS n,
         |        row_number() OVER (PARTITION BY conv_id
         |          ORDER BY t_us ASC NULLS LAST, touch_id ASC NULLS LAST)
         |          AS rn
         |      FROM j),
         |a AS (SELECT conv_id,
         |        CASE WHEN touch_id IS NULL THEN 'direct'
         |             ELSE channel END AS channel,
         |        CASE WHEN touch_id IS NULL THEN cents
         |             ELSE cents // n
         |               + (CASE WHEN rn <= cents % n THEN 1 ELSE 0 END)
         |        END AS attributed
         |      FROM x)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
         |  CAST(sum(attributed) AS BIGINT) AS attributed_cents
         |FROM a GROUP BY channel ORDER BY channel""".stripMargin,
    // Same intervals and cut arithmetic as q_time_travel (cuts 1 and 3),
    // same full-outer key merge and transition classification.
    "q_cdc_net_changes" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    epoch_us(ts) AS t FROM events),
         |b AS (SELECT min(t) AS lo, max(t) AS hi FROM e),
         |cuts AS (SELECT CAST(k AS BIGINT) AS cut_idx,
         |    lo + (hi - lo) * k // 4 AS cut_us
         |  FROM b, (SELECT unnest([1, 3]) AS k)),
         |v AS (SELECT user_id, event_type, cents, t AS f,
         |    coalesce(lead(t) OVER (PARTITION BY user_id
         |      ORDER BY t, event_id), $Scd2HighDateUs) AS nxt
         |  FROM e),
         |st AS (SELECT cut_idx, user_id, event_type, cents
         |       FROM cuts JOIN v ON v.f <= cut_us AND cut_us < v.nxt),
         |bf AS (SELECT user_id, event_type AS from_type,
         |         cents AS cents_from FROM st WHERE cut_idx = 1),
         |af AS (SELECT user_id, event_type AS to_type,
         |         cents AS cents_to FROM st WHERE cut_idx = 3),
         |d AS (SELECT
         |    CASE WHEN bf.from_type IS NULL THEN 'added'
         |         WHEN bf.from_type = af.to_type
         |              AND bf.cents_from = af.cents_to THEN 'unchanged'
         |         ELSE 'changed' END AS kind,
         |    coalesce(bf.from_type, '__none__') AS from_type,
         |    coalesce(af.to_type, '__gone__') AS to_type,
         |    coalesce(bf.cents_from, 0) AS cf, coalesce(af.cents_to, 0) AS ct
         |  FROM bf FULL OUTER JOIN af ON bf.user_id = af.user_id)
         |SELECT kind, from_type, to_type,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(cf) AS BIGINT) AS sum_cents_from,
         |  CAST(sum(ct) AS BIGINT) AS sum_cents_to
         |FROM d GROUP BY 1, 2, 3 ORDER BY kind, from_type, to_type""".stripMargin,
    // Same validity intervals (lead over the user timeline), same
    // integer cut arithmetic, same interval-containment snapshot.
    "q_time_travel" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    epoch_us(ts) AS t FROM events),
         |b AS (SELECT min(t) AS lo, max(t) AS hi FROM e),
         |cuts AS (SELECT CAST(k AS BIGINT) AS cut_idx,
         |    lo + (hi - lo) * k // 4 AS cut_us
         |  FROM b, (SELECT unnest([1, 2, 3]) AS k)),
         |v AS (SELECT user_id, event_type, cents, t AS f,
         |    coalesce(lead(t) OVER (PARTITION BY user_id
         |      ORDER BY t, event_id), $Scd2HighDateUs) AS nxt
         |  FROM e)
         |SELECT cut_idx, cut_us, event_type,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM cuts JOIN v ON v.f <= cut_us AND cut_us < v.nxt
         |GROUP BY 1, 2, 3 ORDER BY cut_idx, event_type""".stripMargin,
    // Same CEP unrolling: conditional running maxima over the identically
    // ordered user window, purchase rows classified by the same predicate.
    "q_event_pattern" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us,
         |             event_id FROM events),
         |f AS (SELECT user_id, event_type, t_us,
         |    max(CASE WHEN event_type = 'view' THEN t_us END) OVER
         |      (PARTITION BY user_id ORDER BY t_us, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_v,
         |    max(CASE WHEN event_type = 'error' THEN t_us END) OVER
         |      (PARTITION BY user_id ORDER BY t_us, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_e
         |  FROM e),
         |p AS (SELECT user_id, t_us,
         |    CASE WHEN last_v IS NOT NULL
         |              AND (last_e IS NULL OR last_e < last_v)
         |              AND t_us - last_v <= $PatternWindowUs
         |         THEN 1 ELSE 0 END AS m
         |  FROM f WHERE event_type = 'purchase')
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
         |  CAST(sum(m) AS BIGINT) AS n_matched,
         |  coalesce(min(CASE WHEN m = 1 THEN t_us END), -1) AS first_match_us
         |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Same md5-derived uniform, same Poisson(1) CDF literals, same
    // nearest-rank percentile cut over the 64-resample relation.
    "q_bootstrap_ci" ->
      s"""WITH $bootstrapResampleCtes,
         |agg AS (SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
         |          CAST(sum(w * cents) AS BIGINT) AS sum_cents
         |        FROM w GROUP BY b),
         |m AS (SELECT b, n_eff, sum_cents,
         |        CASE WHEN n_eff > 0 THEN sum_cents * 1000 // n_eff END
         |          AS mean_milli FROM agg),
         |rk AS (SELECT *, row_number()
         |         OVER (ORDER BY mean_milli NULLS LAST, b) AS rn
         |       FROM m)
         |SELECT * FROM (
         |  SELECT 'resample' AS row_kind, b, n_eff, sum_cents, mean_milli
         |  FROM m
         |  UNION ALL
         |  SELECT 'point', -1, CAST(count(*) AS BIGINT),
         |    CAST(sum(cents) AS BIGINT),
         |    CASE WHEN count(*) > 0
         |         THEN CAST(sum(cents) AS BIGINT) * 1000 // count(*) END
         |  FROM p
         |  UNION ALL
         |  SELECT CASE WHEN rn = 2 THEN 'ci_lo' ELSE 'ci_hi' END, -1,
         |    -1, -1, mean_milli
         |  FROM rk WHERE rn IN (2, ${BootstrapB - 1})) out
         |ORDER BY row_kind, b""".stripMargin,
    // Same resample stream, same weighted lower-median rule over the
    // per-resample value-resolution cumsum, same nearest-rank interval.
    "q_bootstrap_median" ->
      s"""WITH $bootstrapResampleCtes,
         |g AS (SELECT b, cents, CAST(sum(w) AS BIGINT) AS wv
         |      FROM w GROUP BY b, cents),
         |c AS (SELECT b, cents,
         |        sum(wv) OVER (PARTITION BY b ORDER BY cents) AS cw,
         |        sum(wv) OVER (PARTITION BY b) AS tot FROM g),
         |meds AS (SELECT b, CAST(min(cents) AS BIGINT) AS median_cents,
         |           CAST(min(tot) AS BIGINT) AS n_eff
         |         FROM c WHERE cw * 2 >= tot GROUP BY b),
         |pg AS (SELECT cents, CAST(count(*) AS BIGINT) AS wv
         |       FROM p GROUP BY cents),
         |pc AS (SELECT cents, sum(wv) OVER (ORDER BY cents) AS cw,
         |         (SELECT sum(wv) FROM pg) AS tot FROM pg),
         |pt AS (SELECT CAST(min(cents) AS BIGINT) AS median_cents,
         |         CAST(min(tot) AS BIGINT) AS n_eff
         |       FROM pc WHERE cw * 2 >= tot),
         |rk AS (SELECT *, row_number() OVER (ORDER BY median_cents, b) AS rn
         |       FROM meds)
         |SELECT * FROM (
         |  SELECT 'resample' AS row_kind, b, n_eff, median_cents FROM meds
         |  UNION ALL SELECT 'point', -1, n_eff, median_cents FROM pt
         |  UNION ALL
         |  SELECT CASE WHEN rn = 2 THEN 'ci_lo' ELSE 'ci_hi' END, -1, -1,
         |    median_cents
         |  FROM rk WHERE rn IN (2, ${BootstrapB - 1})) out
         |ORDER BY row_kind, b""".stripMargin,
    // Same calendar-bounded pair grid; floor division spelled
    // ((a % b) + b) % b == Spark's pmod so negative dy floors identically.
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT (b.cents - a.cents) * 1000000 AS num,
        |         b.day - a.day AS dx
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |slopes AS (
        |  SELECT CAST((num - ((num % dx) + dx) % dx) // dx AS BIGINT)
        |           AS slope_uppm,
        |         CAST(sign(num) AS BIGINT) AS sgn
        |  FROM pairs),
        |ranked AS (
        |  SELECT slope_uppm, sgn,
        |    row_number() OVER (ORDER BY slope_uppm) AS rn,
        |    count(*) OVER () AS np
        |  FROM slopes),
        |agg AS (
        |  SELECT coalesce(max(np), 0) AS n_pairs,
        |    min(CASE WHEN rn = (np + 1) // 2 THEN slope_uppm END)
        |      AS slope_lo_uppm,
        |    min(CASE WHEN rn = (np + 2) // 2 THEN slope_uppm END)
        |      AS slope_hi_uppm,
        |    count(CASE WHEN sgn = 1 THEN 1 END) AS n_concordant,
        |    count(CASE WHEN sgn = -1 THEN 1 END) AS n_discordant,
        |    count(CASE WHEN sgn = 0 THEN 1 END) AS n_ties
        |  FROM ranked),
        |nd AS (SELECT count(*) AS n_days FROM daily)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  slope_lo_uppm, slope_hi_uppm,
        |  CAST(n_concordant AS BIGINT) AS n_concordant,
        |  CAST(n_discordant AS BIGINT) AS n_discordant,
        |  CAST(n_ties AS BIGINT) AS n_ties,
        |  CASE WHEN n_pairs > 0 THEN CAST(
        |    ((n_concordant - n_discordant) * 1000000
        |     - (((n_concordant - n_discordant) * 1000000 % n_pairs)
        |        + n_pairs) % n_pairs) // n_pairs AS BIGINT)
        |  END AS tau_ppm
        |FROM nd, agg""".stripMargin,
    // Same total order (score desc, user_id), same 10-row epilogue.
    "q_lift_curve" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    count(CASE WHEN event_type IN ('view', 'click') THEN 1 END)
        |      AS score,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS buyer
        |  FROM events GROUP BY user_id),
        |deciled AS (
        |  SELECT CAST(buyer AS BIGINT) AS buyer,
        |    CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS INT)
        |      AS decile
        |  FROM per_user),
        |d AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(buyer) AS BIGINT) AS n_buyers
        |  FROM deciled GROUP BY decile),
        |c AS (
        |  SELECT decile, n_users, n_buyers,
        |    CAST(sum(n_buyers) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_buyers,
        |    CAST(sum(n_buyers) OVER () AS BIGINT) AS tb,
        |    CAST(sum(n_users) OVER () AS BIGINT) AS tu
        |  FROM d)
        |SELECT decile, n_users, n_buyers, cum_buyers,
        |  CASE WHEN tb > 0
        |    THEN CAST((cum_buyers * 1000000) // tb AS BIGINT) END
        |    AS capture_ppm,
        |  CASE WHEN tb > 0
        |    THEN CAST((n_buyers * tu * 1000000) // (n_users * tb) AS BIGINT)
        |    END AS lift_ppm
        |FROM c ORDER BY decile""".stripMargin,
    // Same daily rollup, weekday medians, global MAD, 4.4478 gate.
    "q_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, (day + 4) % 7 AS dow, x FROM daily),
        |med AS (SELECT dow, quantile_cont(x, 0.5) AS med
        |        FROM d2 GROUP BY 1),
        |r AS (SELECT day, d2.dow, x, med, x - med AS resid
        |      FROM d2 JOIN med ON d2.dow = med.dow),
        |m AS (SELECT quantile_cont(abs(resid), 0.5) AS mad FROM r)
        |SELECT day, dow, x AS cents, round(med, 4) AS dow_median,
        |  round(resid, 4) AS resid,
        |  abs(resid) > mad * 4.4478 AS is_anomaly
        |FROM r, m
        |ORDER BY abs(resid) DESC, day ASC LIMIT 20""".stripMargin,
    // ORDER BY inside list() spells the same (ts, event_id) total order
    // the struct sort imposes; same 8-step truncation and top-20.
    "q_top_paths" ->
      """WITH p AS (
        |  SELECT user_id,
        |    array_to_string(
        |      (list(event_type ORDER BY ts, event_id))[1:8], '>') AS path
        |  FROM events GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |ORDER BY n_users DESC, path ASC LIMIT 20""".stripMargin,
    // Same QI classes, threshold, and floor-bucketed balances.
    // Same QI grouping discipline; diversity = distinct subjects.
    "q_l_diversity" ->
      """WITH g AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(round(value * 100) AS BIGINT) / 10000.0)
        |      AS BIGINT) AS val_bucket,
        |    count(*) AS n, count(DISTINCT user_id) AS d
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT CAST(3 AS BIGINT) AS l,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(sum(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(min(d) AS BIGINT) AS min_diversity
        |FROM g""".stripMargin,
    // Same bucket grid, cleared-denominator EMD numerator, and ONE
    // division + round(,6) epilogue.
    "q_t_closeness" ->
      s"""WITH base AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
         |    CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
         |      / 100000.0) AS BIGINT) AS b
         |  FROM customer),
         |cls AS (SELECT seg, nat, b, CAST(count(*) AS BIGINT) AS cnt
         |  FROM base GROUP BY 1, 2, 3),
         |g AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS g
         |  FROM cls GROUP BY 1),
         |classes AS (SELECT seg, nat, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM cls GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS m FROM g),
         |dense AS (SELECT c.seg, c.nat, c.n, g.b,
         |    coalesce(cl.cnt, 0) AS cnt, g.g
         |  FROM classes c CROSS JOIN g
         |  LEFT JOIN cls cl
         |    ON cl.seg = c.seg AND cl.nat = c.nat AND cl.b = g.b),
         |cum AS (SELECT seg, nat, n,
         |    sum(cnt) OVER (PARTITION BY seg, nat ORDER BY b) AS cc,
         |    sum(g) OVER (PARTITION BY seg, nat ORDER BY b) AS cg
         |  FROM dense),
         |emd AS (SELECT seg, nat, n,
         |    round(CAST(sum(abs(cc * (SELECT nn FROM tot) - cg * n))
         |        AS DOUBLE)
         |      / CAST(n * (SELECT nn FROM tot)
         |          * ((SELECT m FROM tot) - 1) AS DOUBLE), 6) AS t
         |  FROM cum GROUP BY 1, 2, 3)
         |SELECT $CloseT AS t_threshold,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN t > $CloseT THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(sum(CASE WHEN t > $CloseT THEN n ELSE 0 END) AS BIGINT)
         |    AS rows_at_risk,
         |  max(t) AS max_t
         |FROM emd""".stripMargin,
    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000.0)
        |      AS BIGINT) AS bal_bucket,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(5 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(min(n) AS BIGINT) AS min_group
        |FROM g""".stripMargin,
    // Components from the same modular split — but n_lines/rev_hc from
    // the DIRECT full join, so the delta algebra itself is re-proven
    // against a recompute every verify.
    "q_incremental_join" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(14,2))
        |         * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000
        |      AS BIGINT) AS hc,
        |    (l_orderkey * 31 + l_linenumber) % 10 = 0 AS is_dl
        |  FROM lineitem),
        |o AS (SELECT o_orderkey, o_orderpriority,
        |        o_orderkey % 7 = 0 AS is_do FROM orders),
        |mv AS (SELECT o_orderpriority, count(*) AS n, sum(hc) AS s
        |       FROM li JOIN o ON l_orderkey = o_orderkey
        |       WHERE NOT is_dl AND NOT is_do GROUP BY 1),
        |d1 AS (SELECT o_orderpriority, count(*) AS n, sum(hc) AS s
        |       FROM li JOIN o ON l_orderkey = o_orderkey
        |       WHERE is_dl AND NOT is_do GROUP BY 1),
        |d2 AS (SELECT o_orderpriority, count(*) AS n, sum(hc) AS s
        |       FROM li JOIN o ON l_orderkey = o_orderkey
        |       WHERE is_do GROUP BY 1),
        |f AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(hc) AS BIGINT) AS s
        |      FROM li JOIN o ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT f.o_orderpriority,
        |  CAST(coalesce(mv.n, 0) AS BIGINT) AS mv_n,
        |  CAST(coalesce(mv.s, 0) AS BIGINT) AS mv_hc,
        |  CAST(coalesce(d1.n, 0) + coalesce(d2.n, 0) AS BIGINT) AS delta_n,
        |  CAST(coalesce(d1.s, 0) + coalesce(d2.s, 0) AS BIGINT) AS delta_hc,
        |  f.n AS n_lines, f.s AS rev_hc
        |FROM f
        |LEFT JOIN mv USING (o_orderpriority)
        |LEFT JOIN d1 USING (o_orderpriority)
        |LEFT JOIN d2 USING (o_orderpriority)
        |ORDER BY 1""".stripMargin,
    // Same epoch-day weekday, daily rollup, HUGEINT floor index.
    "q_seasonality" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |d AS (SELECT (day + 4) % 7 AS dow,
        |        CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(sum(x) AS BIGINT) AS sum_cents
        |      FROM daily GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |        CAST(sum(x) AS BIGINT) AS total FROM daily)
        |SELECT dow, n_days, sum_cents,
        |  CASE WHEN total > 0
        |       THEN CAST(CAST(sum_cents AS HUGEINT) * n_all * 1000000
        |                 // (CAST(n_days AS HUGEINT) * total) AS BIGINT)
        |       ELSE NULL END AS index_ppm
        |FROM d, t ORDER BY dow""".stripMargin,
    // Same per-cent collapse, doubled pair count, HUGEINT floor ppm.
    "q_auc" ->
      """WITH sc AS (
        |  SELECT o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_pos,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cum AS (
        |  SELECT cents,
        |    CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1),
        |c2 AS (
        |  SELECT np, nn, sum(nn) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        |  FROM cum),
        |t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |        CAST(sum(nn) AS BIGINT) AS n_neg FROM cum),
        |u AS (SELECT CAST(sum(CAST(np AS HUGEINT)
        |        * (2 * (cn - nn) + nn)) AS HUGEINT) AS u2d FROM c2)
        |SELECT n_pos, n_neg, CAST(u2d AS BIGINT) AS u2,
        |  CASE WHEN n_pos > 0 AND n_neg > 0
        |       THEN CAST(u2d * 500000
        |                 // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
        |       ELSE NULL END AS auc_ppm
        |FROM u, t""".stripMargin,
    // Same item rollup, both rank windows, grid discounts, final DIV.
    "q_ndcg" ->
      """WITH it AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS views,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS rel
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT CAST(sum(rel * 1000000000000
        |      // CAST(round(log2(CAST(rk + 1 AS DOUBLE)) * 1000000)
        |         AS BIGINT)) AS BIGINT) AS dcg_scaled
        |  FROM (SELECT rel, row_number()
        |          OVER (ORDER BY views DESC, item ASC) AS rk FROM it)
        |  WHERE rk <= 10),
        |i AS (
        |  SELECT CAST(sum(rel * 1000000000000
        |      // CAST(round(log2(CAST(rk + 1 AS DOUBLE)) * 1000000)
        |         AS BIGINT)) AS BIGINT) AS idcg_scaled
        |  FROM (SELECT rel, row_number()
        |          OVER (ORDER BY rel DESC, item ASC) AS rk FROM it)
        |  WHERE rk <= 10)
        |SELECT dcg_scaled, idcg_scaled,
        |  CASE WHEN idcg_scaled > 0
        |       THEN dcg_scaled * 1000000 // idcg_scaled
        |       ELSE NULL END AS ndcg_ppm
        |FROM p, i""".stripMargin,
    // Identical cell table, integer-count log grid, micro-quantized
    // terms, and one ppm DIV.
    "q_mutual_info" ->
      s"""WITH cells AS (
         |  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |rm AS (SELECT seg, CAST(sum(n) AS BIGINT) AS rn
         |       FROM cells GROUP BY 1),
         |cm AS (SELECT prio, CAST(sum(n) AS BIGINT) AS cn
         |       FROM cells GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM cells),
         |mi AS (SELECT CAST(sum(CAST(round(
         |      (CAST(n AS DOUBLE) / big_n)
         |      * CAST(${ql("n")} + ${ql("big_n")}
         |             - ${ql("rn")} - ${ql("cn")} AS DOUBLE))
         |    AS BIGINT)) AS BIGINT) AS mi_micros
         |  FROM cells JOIN rm USING (seg) JOIN cm USING (prio), t),
         |hr AS (SELECT CAST(sum(CAST(round(
         |      (CAST(rn AS DOUBLE) / big_n)
         |      * CAST(${ql("big_n")} - ${ql("rn")} AS DOUBLE)) AS BIGINT))
         |    AS BIGINT) AS h_rn FROM rm, t),
         |hc AS (SELECT CAST(sum(CAST(round(
         |      (CAST(cn AS DOUBLE) / big_n)
         |      * CAST(${ql("big_n")} - ${ql("cn")} AS DOUBLE)) AS BIGINT))
         |    AS BIGINT) AS h_cn FROM cm, t)
         |SELECT big_n AS n_obs, mi_micros,
         |  h_rn AS h_seg_micros, h_cn AS h_prio_micros,
         |  CASE WHEN least(h_rn, h_cn) > 0
         |       THEN mi_micros * 1000000 // least(h_rn, h_cn) ELSE 0 END
         |    AS nmi_ppm
         |FROM mi, hr, hc, t""".stripMargin,
    // Same N·x − T scaled CUSUM, earliest-argmax tie, sign readout.
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |        CAST(sum(x) AS BIGINT) AS tt FROM daily),
        |c AS (SELECT day,
        |        CAST(sum(nd * x - tt) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS s
        |      FROM daily, t),
        |m AS (SELECT max(abs(s)) AS s_abs_max FROM c),
        |f AS (SELECT c.day, c.s, m.s_abs_max FROM c, m
        |      WHERE abs(c.s) = m.s_abs_max)
        |SELECT min(day) AS cp_day,
        |  CAST(max(s_abs_max) AS BIGINT) AS s_abs_max,
        |  CASE WHEN arg_min(s, day) < 0 THEN 'up' ELSE 'down' END AS shift
        |FROM f""".stripMargin,
    // Same first-week cohorts, weekly rollup, cumulative window, DIV.
    "q_cohort_ltv" ->
      """WITH f AS (
        |  SELECT user_id, min(epoch_us(ts) // 604800000000) AS cw
        |  FROM events GROUP BY 1),
        |sz AS (SELECT cw, count(*) AS cohort_users FROM f GROUP BY 1),
        |r AS (SELECT f.cw,
        |        (epoch_us(e.ts) // 604800000000) - f.cw AS week_offset,
        |        CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |          AS rev_cents
        |      FROM events e JOIN f USING (user_id)
        |      WHERE e.event_type = 'purchase'
        |      GROUP BY 1, 2),
        |c AS (SELECT cw, week_offset, rev_cents,
        |        CAST(sum(rev_cents) OVER (PARTITION BY cw
        |          ORDER BY week_offset
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum_rev_cents
        |      FROM r)
        |SELECT c.cw AS cohort_week, c.week_offset, sz.cohort_users,
        |  c.rev_cents, c.cum_rev_cents,
        |  c.cum_rev_cents // sz.cohort_users AS ltv_cents
        |FROM c JOIN sz USING (cw)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // Identical integer binning, midpoint split, Laplace smoothing, and
    // difference-of-integer-logs grid; total row via UNION ALL.
    "q_psi" ->
      """WITH v AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |rng AS (SELECT min(day) AS dmin, max(day) AS dmax,
        |          min(cents) AS cmin, max(cents) AS cmax FROM v),
        |b AS (SELECT least(9, (cents - cmin) * 10 // (cmax - cmin + 1))
        |        AS bin,
        |        (day < (dmin + dmax + 1) // 2) AS is_a
        |      FROM v, rng),
        |g AS (SELECT bin,
        |        CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
        |          AS c_a,
        |        CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
        |          AS c_b
        |      FROM b GROUP BY bin),
        |spine AS (SELECT unnest(range(0, 10)) AS bin FROM rng
        |          WHERE dmin IS NOT NULL),
        |f AS (SELECT spine.bin, coalesce(g.c_a, 0) AS c_a,
        |        coalesce(g.c_b, 0) AS c_b
        |      FROM spine LEFT JOIN g USING (bin)),
        |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
        |          CAST(sum(c_b) AS BIGINT) AS n_b FROM f),
        |terms AS (SELECT bin, c_a, c_b,
        |    CAST(round((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + 10 AS DOUBLE)
        |         - CAST(c_b + 1 AS DOUBLE) / CAST(n_b + 10 AS DOUBLE))
        |      * CAST(
        |          CAST(round(log2(CAST(c_a + 1 AS DOUBLE)) * 1000000.0)
        |            AS BIGINT)
        |        - CAST(round(log2(CAST(n_a + 10 AS DOUBLE)) * 1000000.0)
        |            AS BIGINT)
        |        - CAST(round(log2(CAST(c_b + 1 AS DOUBLE)) * 1000000.0)
        |            AS BIGINT)
        |        + CAST(round(log2(CAST(n_b + 10 AS DOUBLE)) * 1000000.0)
        |            AS BIGINT) AS DOUBLE)) AS BIGINT) AS term_micros
        |  FROM f, tot)
        |SELECT * FROM (
        |  SELECT bin, c_a, c_b, term_micros FROM terms
        |  UNION ALL
        |  SELECT -1, CAST(sum(c_a) AS BIGINT), CAST(sum(c_b) AS BIGINT),
        |    CAST(sum(term_micros) AS BIGINT)
        |  FROM terms)
        |ORDER BY bin""".stripMargin,
    // Naive one-window-per-day sweep with durations — proves the
    // hour-spine decomposition equals the textbook form.
    "q_uptime" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT day, t, CAST(sum(dd) AS BIGINT) AS dd FROM (
        |    SELECT day, lo AS t, 1 AS dd FROM iv
        |    UNION ALL SELECT day, hi + 1 AS t, -1 AS dd FROM iv)
        |  GROUP BY day, t),
        |r AS (
        |  SELECT day, t,
        |    CAST(sum(dd) OVER (PARTITION BY day ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS run,
        |    lead(t, 1, (day + 1) * 86400000000) OVER (PARTITION BY day
        |      ORDER BY t) AS nxt
        |  FROM d),
        |cov AS (
        |  SELECT day, CAST(sum(CASE WHEN run > 0 THEN nxt - t ELSE 0 END)
        |    AS BIGINT) AS uptime_us
        |  FROM r GROUP BY day),
        |n AS (SELECT day, count(*) AS n_intervals FROM iv GROUP BY day)
        |SELECT cov.day, n.n_intervals, cov.uptime_us,
        |  cov.uptime_us * 1000000 // 86400000000 AS uptime_ppm
        |FROM cov JOIN n USING (day) ORDER BY day""".stripMargin,
    // Same per-user min chain, integer minute DIV, exact percentiles.
    "q_conversion_lag" ->
      """WITH su AS (
        |  SELECT user_id, min(epoch_us(ts)) AS s0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |lag AS (
        |  SELECT e.user_id,
        |    (min(epoch_us(e.ts)) - min(su.s0)) // 60000000 AS lag_min
        |  FROM events e JOIN su USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s0
        |  GROUP BY e.user_id),
        |agg AS (
        |  SELECT count(*) AS n_converted,
        |    round(quantile_cont(lag_min, 0.5), 4) AS median_lag_min,
        |    round(quantile_cont(lag_min, 0.9), 4) AS p90_lag_min
        |  FROM lag),
        |c AS (SELECT count(*) AS n_signup FROM su)
        |SELECT n_signup, n_converted,
        |  CASE WHEN n_signup > 0
        |       THEN n_converted * 1000000 // n_signup ELSE 0 END
        |    AS conv_ppm,
        |  median_lag_min, p90_lag_min
        |FROM agg, c""".stripMargin,
    // Identical reverse-cumulative risk set and 1e-6-grid log2 product;
    // the exhausted-risk-set row carries NULL in both engines.
    "q_survival" ->
      s"""WITH u AS (
         |  SELECT user_id, min(epoch_us(ts)) AS first_us,
         |         max(epoch_us(ts)) AS last_us
         |  FROM events GROUP BY 1),
         |te AS (SELECT max(last_us) AS t_end FROM u),
         |obs AS (
         |  SELECT (last_us - first_us) // 3600000000 AS t,
         |    (last_us <= t_end - $SurvivalCensorUs) AS churned
         |  FROM u, te),
         |g AS (SELECT t, count(*) AS n_t,
         |        CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
         |          AS d_t
         |      FROM obs GROUP BY t),
         |r AS (SELECT t, d_t,
         |        CAST(sum(n_t) OVER (ORDER BY t DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS n_risk
         |      FROM g),
         |e AS (SELECT t, n_risk, d_t,
         |        CASE WHEN n_risk = d_t THEN 0
         |          ELSE CAST(round(log2(CAST(n_risk - d_t AS DOUBLE))
         |                 * 1000000.0) AS BIGINT)
         |             - CAST(round(log2(CAST(n_risk AS DOUBLE))
         |                 * 1000000.0) AS BIGINT) END AS term
         |      FROM r WHERE d_t > 0)
         |SELECT t AS t_hour, n_risk, d_t AS n_churn,
         |  CASE WHEN n_risk = d_t THEN NULL
         |    ELSE CAST(sum(term) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |  END AS km_log2_micros
         |FROM e ORDER BY t_hour""".stripMargin,
    // Identical integer cross-multiplied CDF gap; HUGEINT mirrors the
    // Spark side's DECIMAL(38,0) in the squared α=0.05 compare.
    "q_ks_test" ->
      """WITH s AS (
        |  SELECT (event_type = 'view') AS is_a,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |c AS (
        |  SELECT cents,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS db
        |  FROM s GROUP BY cents),
        |cum AS (
        |  SELECT cents,
        |    CAST(sum(da) OVER w AS BIGINT) AS ca,
        |    CAST(sum(db) OVER w AS BIGINT) AS cb
        |  FROM c WINDOW w AS (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT max(ca) AS n_a, max(cb) AS n_b FROM cum),
        |g AS (SELECT n_a, n_b, abs(ca * n_b - cb * n_a) AS gap
        |      FROM cum, tot)
        |SELECT n_a, n_b, CAST(max(gap) AS BIGINT) AS d_num,
        |  CAST(max(gap) AS BIGINT) * 1000000 // (n_a * n_b) AS d_ppm,
        |  (CAST(1000000 AS HUGEINT) * max(gap) * max(gap)
        |     > CAST(1844164 AS HUGEINT) * (n_a + n_b) * n_a * n_b)
        |    AS reject_05
        |FROM g GROUP BY n_a, n_b""".stripMargin,
    // Identical rank-1-by-(t_us, touch_id) window and 7-day lookback.
    "q_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS p_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, event_type AS channel, event_id AS touch_id,
        |    epoch_us(ts) AS t_us
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT conv.conv_id, conv.cents, touch.channel, touch.t_us,
        |         touch.touch_id
        |  FROM conv LEFT JOIN touch
        |    ON conv.user_id = touch.user_id
        |   AND touch.t_us <= conv.p_us
        |   AND touch.t_us > conv.p_us - 604800000000),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY conv_id
        |    ORDER BY t_us DESC NULLS LAST, touch_id DESC NULLS LAST) AS rn
        |  FROM j)
        |SELECT coalesce(channel, 'direct') AS channel,
        |  count(*) AS n_conversions,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // Identical Lorenz rank-sum and the one final division.
    "q_gini" ->
      """WITH rev AS (
        |  SELECT c_mktsegment AS segment, c_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT segment, cents,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY cents, c_custkey) AS i
        |  FROM rev)
        |SELECT segment, count(*) AS n_cust,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents) AS DOUBLE)
        |    / CAST(count(*) * sum(cents) AS DOUBLE), 6) AS gini
        |FROM ranked GROUP BY segment ORDER BY segment""".stripMargin,
    // Identical lead() window, BIGINT integral, floor division.
    "q_twap" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS t_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |led AS (
        |  SELECT event_type, day, cents, t_us,
        |    lead(t_us) OVER (PARTITION BY event_type, day
        |      ORDER BY t_us, event_id) AS t_next
        |  FROM e)
        |SELECT event_type, day, count(*) AS n_intervals,
        |  CAST(sum(t_next - t_us) AS BIGINT) AS span_us,
        |  CAST(sum(cents * (t_next - t_us)) AS BIGINT)
        |    // CAST(sum(t_next - t_us) AS BIGINT) AS twap_cents
        |FROM led WHERE t_next IS NOT NULL
        |GROUP BY event_type, day HAVING sum(t_next - t_us) > 0
        |ORDER BY event_type, day""".stripMargin,
    // The NAIVE sweep: one running-sum window per day — re-proves the
    // two-phase hour-carry decomposition equal to the textbook form.
    "q_peak_concurrency" ->
      """WITH iv AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM events GROUP BY 1, 2),
        |deltas AS (
        |  SELECT day, t, CAST(sum(d) AS BIGINT) AS d FROM (
        |    SELECT day, lo AS t, 1 AS d FROM iv
        |    UNION ALL SELECT day, hi + 1, -1 FROM iv) u
        |  GROUP BY day, t),
        |run AS (
        |  SELECT day, sum(d) OVER (PARTITION BY day ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM deltas)
        |SELECT r.day, n.n_intervals, CAST(r.peak AS BIGINT) AS peak_concurrent
        |FROM (SELECT day, max(run) AS peak FROM run GROUP BY day) r
        |JOIN (SELECT day, count(*) AS n_intervals FROM iv GROUP BY day) n
        |  USING (day)
        |ORDER BY day""".stripMargin,
    // Same support floor, same one-division confidence/lift spellings.
    "q_assoc_rules" ->
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |items AS (SELECT p, CAST(count(*) AS BIGINT) AS n_item FROM li GROUP BY p),
         |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
         |pairs AS (
         |  SELECT x.p, y.p AS q, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= $RuleMinPairs),
         |rules AS (
         |  SELECT p AS a, q AS b, n_ab FROM pairs
         |  UNION ALL SELECT q, p, n_ab FROM pairs)
         |SELECT r.a, r.b, r.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
         |  round(CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6)
         |    AS confidence,
         |  round(CAST(r.n_ab * n.n_orders AS DOUBLE)
         |    / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
         |FROM rules r
         |JOIN items ia ON r.a = ia.p JOIN items ib ON r.b = ib.p, n
         |ORDER BY a, b""".stripMargin,
    // Identical expected-value expression tree and 1e-6 term grid.
    "q_chi_square" -> chiSquareSql,
    // Same BIGINT chi-square inputs; the constant-size sqrt epilogue is
    // the q_regression identical-expression-tree doctrine.
    "q_cramers_v" ->
      s"""WITH chi AS ($chiSquareSql)
         |SELECT n_obs, dof, chi2_micros,
         |  CASE WHEN n_obs > 0 AND dof > 0 THEN
         |    round(sqrt((CAST(chi2_micros AS DOUBLE) / 1e6)
         |      / (CAST(n_obs AS DOUBLE)
         |         * CAST(least(n_segs, n_prios) - 1 AS DOUBLE))), 6)
         |  END AS cramers_v,
         |  CASE WHEN n_obs > 0 THEN
         |    round(sqrt((CAST(chi2_micros AS DOUBLE) / 1e6)
         |      / CAST(n_obs AS DOUBLE)), 6) END AS phi,
         |  CASE WHEN n_obs > 0 THEN
         |    round(sqrt((CAST(chi2_micros AS DOUBLE) / 1e6)
         |      / ((CAST(chi2_micros AS DOUBLE) / 1e6)
         |         + CAST(n_obs AS DOUBLE))), 6) END AS contingency_c
         |FROM chi""".stripMargin,
    // Same day-delta integer-shift numerator / realized-weight-mass
    // denominator; list() over the identical RANGE frame on day.
    "q_ewma" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |           AS rev_cents
         |  FROM orders GROUP BY 1),
         |win AS (
         |  SELECT day, rev_cents,
         |         list(rev_cents) OVER w AS xs,
         |         list(day) OVER w AS ds
         |  FROM daily
         |  WINDOW w AS (ORDER BY day
         |    RANGE BETWEEN $EwmaLags PRECEDING AND CURRENT ROW))
         |SELECT day, rev_cents, CAST(len(xs) AS INT) AS n_terms,
         |  CAST(list_sum(list_transform(range(1, len(xs) + 1),
         |      i -> xs[i] * (CAST(1 AS BIGINT)
         |                    << CAST($EwmaLags - (day - ds[i]) AS INT))))
         |    AS BIGINT)
         |    // CAST(list_sum(list_transform(ds,
         |      dd -> (CAST(1 AS BIGINT)
         |             << CAST($EwmaLags - (day - dd) AS INT)))) AS BIGINT)
         |    AS ewma_cents
         |FROM win ORDER BY day""".stripMargin,
    // Range-join restatement of the explode-contribution plan: user u
    // counts toward day d iff u was active on some day in [d-6, d].
    "q_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ud)
        |SELECT strftime(days.d, '%Y-%m-%d') AS day,
        |  count(DISTINCT ud.user_id) AS active_7d
        |FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
        |GROUP BY days.d ORDER BY 1""".stripMargin,
    // Deterministic-HLL rolling sketch: the oracle recomputes the
    // per-day registers, the per-register 7-day windowed max over a
    // dense day×256 grid, and the estimate (graft.plans.HllDet shared
    // constants) — register-level verification of the sketch union.
    "q_rolling_distinct_approx" -> rollingHllOracleSql(""),
    // The incremental twin answers for the post-cutoff days only; the
    // oracle is the SAME register chain with the cutoff predicate, so
    // store ∪ delta ≡ full recompute is re-proven per verify.
    "q_hll_incremental" -> rollingHllOracleSql(
      "WHERE day >= (SELECT min(day) + 21 FROM uh)"),
    // The erased generation must answer exactly like a from-scratch
    // recompute over the surviving users — same chain, subject
    // predicate on the event scan (rebuild, never subtraction: max
    // is not invertible).
    "q_hll_store_erase" -> rollingHllOracleSql("",
      s"WHERE user_id % ${Ingest.ErasureMod} <> 0"),
    // The two-window register chain over the store's snapshot range
    // (days before min+21), the shared estimator spelling for all three
    // window estimates, inclusion-exclusion from the ROUNDED values.
    "q_hll_overlap" -> {
      import graft.plans.HllDet
      s"""WITH cut AS (SELECT CAST(date_trunc('day', min(ts)) AS DATE) + 21
         |    AS c FROM events),
         |${hllDenseCte(
        "WHERE CAST(date_trunc('day', ts) AS DATE) < (SELECT c FROM cut)")},
         |win AS (
         |  SELECT day, j,
         |    max(r) OVER (PARTITION BY j ORDER BY dn
         |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rc,
         |    coalesce(max(r) OVER (PARTITION BY j ORDER BY dn
         |                 RANGE BETWEEN 13 PRECEDING AND 7 PRECEDING), 0) AS rp
         |  FROM dense),
         |st AS (
         |  SELECT day,
         |    ${HllDet.duckZVDense("rc", "zc", "vc")},
         |    ${HllDet.duckZVDense("rp", "zp", "vp")},
         |    ${HllDet.duckZVDense("greatest(rc, rp)", "zu", "vu")}
         |  FROM win GROUP BY day),
         |est AS (
         |  SELECT strftime(day, '%Y-%m-%d') AS day,
         |    ${HllDet.duckEstimate("zp", "vp", "prev_7d")},
         |    ${HllDet.duckEstimate("zc", "vc", "cur_7d")},
         |    ${HllDet.duckEstimate("zu", "vu", "union_14d")}
         |  FROM st)
         |SELECT day, prev_7d, cur_7d, union_14d,
         |  round(greatest(0.0, prev_7d + cur_7d - union_14d), 4)
         |    AS overlap_est
         |FROM est ORDER BY day""".stripMargin
    },
    // Full CMS counter/estimate recompute over the whole corpus.
    "q_cms_freq" -> cmsOracleSql(""),
    // SAME full-corpus recompute: the Spark side answers from the
    // persisted historical sketch + delta-batch merge, so agreement
    // proves store + delta ≡ full (counter linearity), the
    // q_incremental_agg doctrine applied to sketch state.
    "q_cms_incremental" -> cmsOracleSql(""),
    // Direct recompute over SURVIVING docs; the Spark side answers from
    // sketch(full) − sketch(subjects), so agreement proves the
    // subtraction erase verb ≡ a from-scratch survivor rebuild.
    "q_cms_erase" -> cmsOracleSql(
      s"WHERE doc_id % ${Ingest.ErasureMod} <> 0"),
    // The same cell grids, inner products, and min-over-rows bound,
    // HUGEINT intermediate mirroring Spark's decimal(38,0).
    "q_cms_join_size" ->
      s"""WITH ka AS (SELECT CAST(user_id AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE event_type = 'view' GROUP BY 1),
         |kb AS (SELECT CAST(user_id AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |ca AS (SELECT i,
         |    ${TextPipeline.duckH32("CAST(i AS VARCHAR) || ':' || k")}
         |      % $CmsW AS c, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM ka CROSS JOIN $duckCmsRows
         |  GROUP BY 1, 2),
         |cb AS (SELECT i,
         |    ${TextPipeline.duckH32("CAST(i AS VARCHAR) || ':' || k")}
         |      % $CmsW AS c, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM kb CROSS JOIN $duckCmsRows
         |  GROUP BY 1, 2),
         |ip AS (SELECT ca.i,
         |    sum(CAST(ca.cnt AS HUGEINT) * cb.cnt) AS ip
         |  FROM ca JOIN cb ON ca.i = cb.i AND ca.c = cb.c GROUP BY 1),
         |est AS (SELECT CAST(min(coalesce(ip.ip, 0)) AS BIGINT)
         |    AS est_join_size
         |  FROM $duckCmsRows spine
         |  LEFT JOIN ip USING (i)),
         |ex AS (SELECT CAST(coalesce(
         |    sum(CAST(ka.n AS HUGEINT) * kb.n), 0) AS BIGINT)
         |    AS exact_join_size
         |  FROM ka JOIN kb USING (k))
         |SELECT exact_join_size, est_join_size,
         |  est_join_size - exact_join_size AS overcount
         |FROM ex, est""".stripMargin,
    // Single-pass recompute over ALL events — the Spark side answers via
    // snapshot-merge-delta, so agreement proves the maintenance algebra.
    "q_incremental_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Full recompute over the surviving rows, with the path labels
    // re-derived from first principles — proves values AND case split.
    "q_incremental_minmax" ->
      """WITH base AS (SELECT o_custkey AS c,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 31 = 13 AS del FROM orders),
        |agg AS (SELECT c, CAST(count(*) AS BIGINT) AS n,
        |    max(cents) AS max_cents FROM base WHERE NOT del GROUP BY c),
        |info AS (SELECT c, max(cents) AS m0,
        |    max(CASE WHEN del THEN cents END) AS dmax,
        |    CAST(sum(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS dn
        |  FROM base GROUP BY c)
        |SELECT agg.c AS o_custkey, n, max_cents,
        |  CASE WHEN dn = 0 THEN 'untouched'
        |       WHEN dmax = m0 THEN 'repaired'
        |       ELSE 'folded' END AS path
        |FROM agg JOIN info USING (c) ORDER BY o_custkey""".stripMargin,
    // Same midpoint cut, same HUGEINT raw-moment identity, same
    // trunc-toward-zero (a - a%b)/b spelling on exactly-divisible pairs.
    "q_cuped" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
        |  FROM events),
        |cut AS (SELECT min(us) + (max(us) - min(us)) // 2 AS cut_us FROM e),
        |pu AS (SELECT user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN us <= cut_us THEN cents ELSE 0 END)
        |      AS HUGEINT) AS x,
        |    CAST(sum(CASE WHEN us > cut_us THEN cents ELSE 0 END)
        |      AS HUGEINT) AS y
        |  FROM e, cut GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |    count(*) * sum(x*y) - sum(x) * sum(y) AS cxy,
        |    count(*) * sum(x*x) - sum(x) * sum(x) AS cxx
        |  FROM pu),
        |t AS (SELECT n, sx, CASE WHEN cxx <> 0
        |    THEN CAST((cxy * 1000000 - (cxy * 1000000) % cxx) // cxx
        |         AS BIGINT) END AS theta_micros FROM m),
        |a AS (SELECT arm, CAST(count(*) AS HUGEINT) AS n_a,
        |    sum(x) AS sx_a, sum(y) AS sy_a FROM pu GROUP BY 1)
        |SELECT arm, CAST(n_a AS BIGINT) AS n_users,
        |  CAST(sx_a AS BIGINT) AS x_cents, CAST(sy_a AS BIGINT) AS y_cents,
        |  CAST((sy_a * 1000000 - (sy_a * 1000000) % n_a) // n_a AS BIGINT)
        |    AS raw_mean_micros,
        |  CAST(((n * sy_a * 1000000 - theta_micros * (n * sx_a - n_a * sx))
        |        - (n * sy_a * 1000000 - theta_micros * (n * sx_a - n_a * sx))
        |          % (n * n_a)) // (n * n_a) AS BIGINT) AS adj_mean_micros,
        |  theta_micros
        |FROM a, t ORDER BY arm""".stripMargin,
    "q_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' AND value > 90
        |        THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |k AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM pu)
        |SELECT n0, c0,
        |  CASE WHEN n0 > 0
        |    THEN round(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END AS p0,
        |  n1, c1,
        |  CASE WHEN n1 > 0
        |    THEN round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END AS p1,
        |  CASE WHEN n0 > 0 AND n1 > 0
        |    THEN round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END AS lift,
        |  CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0 AND c0 + c1 < n0 + n1
        |    THEN round((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |    / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 6)
        |    END AS z
        |FROM k""".stripMargin,
    "q_revenue_concentration" ->
      """WITH rev AS (
        |  SELECT c.c_mktsegment AS segment, c.c_custkey,
        |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY segment
        |      ORDER BY rev_cents DESC, c_custkey ASC) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY segment) AS n_seg
        |  FROM rev)
        |SELECT segment, count(*) AS n_cust,
        |  (count(*) + 9) // 10 AS top_k,
        |  CAST(sum(rev_cents) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN rn <= (n_seg + 9) // 10 THEN rev_cents
        |    ELSE 0 END) AS BIGINT) AS top_cents,
        |  round(CAST(CAST(sum(CASE WHEN rn <= (n_seg + 9) // 10
        |      THEN rev_cents ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(rev_cents) AS BIGINT) AS DOUBLE), 6)
        |      AS top_decile_share
        |FROM ranked GROUP BY segment ORDER BY segment""".stripMargin,
    "q_markov_transition" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t_us FROM events),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY t_us, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q_autocorr" -> {
      def lagSel(k: Int) =
        s"""SELECT $k AS lag, n AS n_pairs,
           |  round(CAST(n * sxy - sx * sy AS DOUBLE)
           |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS autocorr
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
           |    CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
           |    CAST(sum(b.x * b.x) AS BIGINT) AS syy,
           |    CAST(sum(a.x * b.x) AS BIGINT) AS sxy
           |  FROM daily a JOIN daily b ON a.day = b.day + $k)""".stripMargin
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS x
         |  FROM events GROUP BY 1)
         |${lagSel(1)}
         |UNION ALL
         |${lagSel(7)}
         |ORDER BY lag""".stripMargin
    },
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t_us FROM events),
        |c AS (SELECT *, lag(event_type) OVER w AS prev_type
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
        |f AS (SELECT user_id, event_id, event_type, t_us FROM c
        |      WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type,
        |  t_us AS valid_from_us,
        |  coalesce(lead(t_us) OVER w, 253402300799000000) AS valid_to_us,
        |  lead(t_us) OVER w IS NULL AS is_current,
        |  CAST(row_number() OVER w AS INT) AS version
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t_us FROM events),
        |f AS (SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
        |        OR t_us - lag(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |        AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
        |g AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |        ORDER BY t_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS session_id
        |      FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t_us) AS t_start_us, max(t_us) AS t_end_us,
        |  max(t_us) - min(t_us) AS dur_us,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
        |FROM g GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    "q_bm25_top" -> {
      val duckToks = TextPipeline.duckToks
      s"""WITH docs AS (
         |  SELECT doc_id, $duckToks AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM docs),
         |words AS (SELECT doc_id, unnest(w) AS word FROM docs),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS df
         |        FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |            CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |qterms AS (SELECT word, df FROM dfq ORDER BY df DESC, word LIMIT 3),
         |scored AS (
         |  SELECT tf.doc_id,
         |    CAST(round(
         |      ((CAST(n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
         |         / (CAST(q.df AS DOUBLE) + 0.5))
         |      * ((CAST(tf.tf AS DOUBLE) * 2.2)
         |         / (CAST(tf.tf AS DOUBLE)
         |            + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)))
         |      * 1e9) AS BIGINT) AS q
         |  FROM tf JOIN qterms q USING (word) JOIN dl USING (doc_id), stats)
         |SELECT doc_id, round(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 1e9, 6) AS bm25
         |FROM scored GROUP BY doc_id
         |ORDER BY CAST(sum(q) AS BIGINT) DESC, doc_id LIMIT 10""".stripMargin
    },
    "q_hybrid_rrf" -> {
      val duckToks = TextPipeline.duckToks
      s"""WITH docs AS (
         |  SELECT doc_id, $duckToks AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM docs),
         |words AS (SELECT doc_id, unnest(w) AS word FROM docs),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS df
         |        FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |            CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |qterms AS (SELECT word, df FROM dfq ORDER BY df DESC, word LIMIT 3),
         |scored AS (
         |  SELECT tf.doc_id,
         |    CAST(round(
         |      ((CAST(n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
         |         / (CAST(q.df AS DOUBLE) + 0.5))
         |      * ((CAST(tf.tf AS DOUBLE) * 2.2)
         |         / (CAST(tf.tf AS DOUBLE)
         |            + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)))
         |      * 1e9) AS BIGINT) AS q
         |  FROM tf JOIN qterms q USING (word) JOIN dl USING (doc_id), stats),
         |asq AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS s
         |        FROM scored GROUP BY doc_id),
         |ar AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
         |           AS bm25_rank
         |       FROM (SELECT * FROM asq ORDER BY s DESC, doc_id LIMIT $RrfDepth)),
         |bsq AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS s
         |        FROM tf JOIN qterms q USING (word) GROUP BY tf.doc_id),
         |br AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
         |           AS tf_rank
         |       FROM (SELECT * FROM bsq ORDER BY s DESC, doc_id LIMIT $RrfDepth)),
         |f AS (SELECT COALESCE(ar.doc_id, br.doc_id) AS doc_id,
         |        ar.bm25_rank, br.tf_rank,
         |        COALESCE(CAST(round(1e9 / (ar.bm25_rank + $RrfK)) AS BIGINT), 0)
         |        + COALESCE(CAST(round(1e9 / (br.tf_rank + $RrfK)) AS BIGINT), 0)
         |          AS rrf_q
         |      FROM ar FULL OUTER JOIN br ON ar.doc_id = br.doc_id)
         |SELECT doc_id, bm25_rank, tf_rank,
         |  round(CAST(rrf_q AS DOUBLE) / 1e9, 6) AS rrf
         |FROM f ORDER BY rrf_q DESC, doc_id LIMIT 10""".stripMargin
    },
    // the bloom filter is a pure optimization: the oracle is the exact
    // semi join it provably implements (no false negatives; false
    // positives removed by the exact verify step)
    "q_bloom_semi" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |WHERE l_orderkey IN
         |  (SELECT o_orderkey FROM orders WHERE o_totalprice > $HighValue)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The plain semi join again: the store-merged filter is a pure
    // optimization, so gating against the direct answer re-proves
    // store ∨ delta filters with zero false negatives every verify.
    "q_bloom_incremental" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |WHERE l_orderkey IN
         |  (SELECT o_orderkey FROM orders WHERE o_totalprice > $HighValue)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    max(epoch_us(o_orderdate)) AS r_us,
        |    count(*) AS f,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS m_cents
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, r_us, f, m_cents,
        |  CAST(ntile(5) OVER (ORDER BY r_us, o_custkey) AS INT) AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY f, o_custkey) AS INT) AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY m_cents, o_custkey) AS INT) AS m_score,
        |  round(percent_rank() OVER (ORDER BY m_cents, o_custkey), 6)
        |    AS m_pctile,
        |  CAST(ntile(5) OVER (ORDER BY r_us, o_custkey) * 100
        |    + ntile(5) OVER (ORDER BY f, o_custkey) * 10
        |    + ntile(5) OVER (ORDER BY m_cents, o_custkey) AS INT) AS rfm_cell
        |FROM base ORDER BY o_custkey""".stripMargin,
    "q_stratified_sample" -> {
      val h = TextPipeline.duckH32("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, lang, $h AS h FROM documents),
         |ranked AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
         |      AS INT) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM d)
         |SELECT doc_id, lang, rn FROM ranked
         |WHERE rn <= (n_lang + 4) // 5 ORDER BY doc_id""".stripMargin
    },
  )
}
