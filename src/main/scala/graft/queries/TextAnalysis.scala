package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Lineage, TextPipeline}
import graft.core.TextPipeline.{duckToks, toks}
import graft.io.Tables

/** M3 — text-analysis tier over `documents`: the operations a large-scale
  * training-data pipeline runs per document (token stats, quality scoring,
  * language ID, n-grams, TF-IDF, fingerprinting).
  *
  * Design stance for 100 TB: everything here is per-document array math via
  * higher-order functions (`transform`/`filter`/`aggregate`) — embarrassingly
  * parallel, zero shuffles until the final aggregate/rank, no UDFs, all
  * codegen-friendly. The only shuffles are the analytics-level group-bys
  * (bigram counts, document frequency), which partial-aggregate map-side
  * first.
  *
  * Cross-engine determinism note: no transcendental functions (ln/exp) in
  * verified outputs — IEEE +,*,/ are exactly reproducible across engines,
  * libm functions are not. TF-IDF uses a rational rarity weight (N+1)/(df+1)
  * instead of log-idf for that reason.
  */
object TextAnalysis {

  /** English stopwords present in the fixture vocabulary. */
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val duckStop = stop.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Per-document token statistics (no explode — pure array math). */
  def qTokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("w"), length(col("text")).as("n_chars_str"))
      .select(col("doc_id"), col("lang"),
        col("n_chars_str").cast("long").as("n_chars"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_distinct"),
        (aggregate(col("w"), lit(0L), (acc, x) => acc + length(x)).cast("double")
          / size(col("w"))).as("avg_token_len"))
      .orderBy("doc_id")

  /** Quality scoring: alpha ratio, stopword ratio, length bucket — the
    * standard cheap pre-filters of a web-scale corpus cleaning pipeline. */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") / length(col("text"))
    val stopRatio = size(filter(col("w"), x => x.isin(stop: _*))).cast("double") / size(col("w"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), toks.as("w"))
      .select(col("doc_id"),
        alpha.as("alpha_ratio"),
        stopRatio.as("stopword_ratio"),
        when(length(col("text")) < 100, "short")
          .when(length(col("text")) < 400, "medium")
          .otherwise("long").as("len_bucket"))
      .orderBy("doc_id")
  }

  /** Token counting three ways: space-split words, BPE-ish regex units,
    * chars/4 heuristic — the triple every data-mixing recipe wants. */
  def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).as("n_words"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .as("n_bpeish"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long").as("n_chars_over4"))
      .orderBy("doc_id")

  /** Corpus-level top-20 bigrams. Array-built bigrams (no self-join), then
    * one partial-agg'd group-by — at 100 TB the shuffle carries only
    * (distinct bigram, partial count) pairs. */
  def qBigramsTop(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(toks.as("w"))
      // the shared zip_with-over-shifted-slice spelling
      // (TextPipeline.bigrams): O(tokens), not element_at-over-sequence
      // (O(n²)); null-padded tail filtered; guards the <2-token case
      .select(explode(TextPipeline.bigrams(col("w"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(20)

  /** Per-document bigram language-model score: train a corpus bigram LM
    * (MLE, P(w2|w1) = c12/c1 where c1 counts w1 as a bigram head), then
    * score every document by its average negative log-likelihood —
    * the classic LM-perplexity quality filter of a training-data
    * pipeline (fluent text scores low, gibberish high).
    *
    * Determinism: each log2(count) is quantized to the 1e-6 BIGINT grid
    * BEFORE summing (the same verified-for-all-counts grid as
    * q_token_entropy, §8.5f) — per-doc sums are integer and order-free,
    * so the hash-compared value is exact under any partitioning; the one
    * division happens after the integer sum.
    *
    * Scale shape: the instance stream collapses to per-doc bigram TFs
    * first (the only large shuffle, map-side combined); the model join
    * is TF ⋈ c12 on bigram — skew on hot bigrams is exactly what
    * q_heavy_hitters detects and AQE absorbs — and c1 is vocabulary-
    * sized (unigram heads), broadcastable at any corpus size. */
  def qBigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLm(Tables.documents(s, dir)).orderBy("doc_id")

  private[graft] def bigramLm(docs: DataFrame): DataFrame =
    bigramNll(docs)
      .select(col("doc_id"), col("nb").as("n_bigrams"),
        round((col("qnll").cast("double") / 1e6) / col("nb"), 4).as("avg_nll"))

  /** Integer heart of [[bigramLm]]: per-doc (nb, qnll) where qnll is the
    * 1e-6-grid Σ tf·(log2 c1 − log2 c12) — exposed unrounded so
    * [[qPerplexityFilter]] can rank on the exact BIGINT instead of the
    * presentation double. */
  private[graft] def bigramNll(docs: DataFrame): DataFrame = {
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val bg = docs
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        explode(TextPipeline.bigrams(col("w"))).as("bigram"))
    // materialize the TF relation once: tf feeds the model (c12 → c1)
    // AND the scoring join — without this, each consumer re-derives the
    // scan + explode + aggregate lineage (3 document scans, measured)
    val tf = bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
      // sf0.1 median, cuts on/off: q_bigram_lm 2.29/3.15 s, q_perplexity_filter 2.99/4.14 s
      .transform(Lineage.cut)
    val c12 = tf.groupBy("bigram").agg(sum(col("tf")).as("c12"))
    val c1 = c12
      .select(substring_index(col("bigram"), " ", 1).as("w1"), col("c12"))
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
    tf.join(c12, "bigram")
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(broadcast(c1), "w1")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("nb"),
        sum(col("tf") * (qlog(col("c1")) - qlog(col("c12")))).as("qnll"))
  }

  /** LM-perplexity quality filter (the CCNet recipe): score every
    * document by the corpus bigram LM's average negative log-likelihood
    * ([[bigramNll]]'s exact BIGINT micros, floor-divided per bigram) and
    * emit the WORST decile per language — the reject manifest a curation
    * pipeline drops before tokenization. Per-language because perplexity
    * distributions are not comparable across languages (a global cut
    * would just drop the rarest language).
    *
    * Determinism: the rank key is (score_micros DESC, doc_id ASC) —
    * integer score, total tie-break — and the cut is rank ≤ n DIV 10,
    * all integer; both engines run the identical window. Documents with
    * fewer than two tokens have no bigrams and are unscored (a length
    * gate, not a perplexity gate, handles those — q_quality_gate).
    *
    * Scale stance (100 TB): scoring inherits q_bigram_lm's shape (one
    * instance-stream shuffle, broadcast head counts); the decile cut is
    * a per-language rank window — at extreme per-language cardinality
    * the same cut runs as a two-phase quantile (sketch the threshold,
    * then one filter pass), which changes the selection from exact-rank
    * to threshold semantics; the exact-rank spelling here is the
    * verifiable contract. */
  def qPerplexityFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val sc = bigramNll(docs)
      .select(col("doc_id"), col("nb"),
        expr("qnll div nb").as("score_micros"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val n = sc.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score_micros").desc, col("doc_id").asc)
    sc.withColumn("rn", row_number().over(w))
      .join(broadcast(n), "lang")
      .filter(col("rn") <= expr("n div 10"))
      .select(col("lang"), col("doc_id"), col("nb").as("n_bigrams"),
        col("score_micros"), col("rn").as("ppl_rank"))
      .orderBy("lang", "ppl_rank")
  }

  /** Corpus novelty score: the fraction of a document's distinct word
    * trigrams whose FIRST corpus occurrence (min doc_id) is this
    * document — the diversity/redundancy measure a curation pipeline
    * uses to prefer documents that add new content over documents that
    * restate the corpus. Boilerplate scores near 0, fresh text near 1.
    *
    * Shape: distinct per-doc postings (narrow rows, text never
    * shuffles), one groupBy assigning each trigram its min-owner, join
    * back, per-doc ratio. The postings relation feeds both the owner
    * aggregation and the scoring join, so it materializes once. min()
    * is order-free, so ownership is deterministic under any
    * partitioning — the same one-pass mergeable pattern as the corpus
    * vocabulary in q_oov_rate. */
  def qTrigramNovelty(s: SparkSession, dir: String): DataFrame =
    trigramNovelty(Tables.documents(s, dir)).orderBy("doc_id")

  private[graft] def trigramNovelty(docs: DataFrame): DataFrame = {
    val dt = docs
      .select(col("doc_id"), explode(TextPipeline.trigrams(toks)).as("t"))
      .distinct()
    val owner = dt.groupBy("t").agg(min(col("doc_id")).as("first_doc"))
    dt.join(owner, "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_tri"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_tri"), 6).as("novelty"))
  }

  /** Hill-estimator order-statistic count for [[qTailIndex]]. */
  private[graft] val HillK = 20

  /** Zipf tail index of the token frequency distribution (Hill
    * estimator over the top-[[HillK]] frequencies) — the corpus-health
    * readout behind "is this corpus natural text or template spam":
    * natural language reads α ≈ 1 (Zipf), boilerplate-heavy corpora
    * read heavier tails. α̂ = k / Σᵢ₌₁..k ln(fᵢ/f₍k₊₁₎), reported in
    * LOG2 units (α_log2 = k / Σ log2(fᵢ/f₍k₊₁₎); α_ln = α_log2/ln 2 is
    * derivable — no cross-engine transcendental constant ships). k
    * adapts to small vocabularies as min([[HillK]], |V|−1).
    *
    * Cross-engine exactness: each log2(f) quantizes to the verified
    * 1e-6 BIGINT grid before the sum; the single division is integer
    * (k·10¹² DIV denom, i.e. α in micros); a zero denominator (all
    * top-k frequencies equal) yields NULL identically in both engines.
    *
    * Scale stance (100 TB): the only data-bound stage is the wordcount
    * partial agg. The estimator consumes exactly two things from the
    * V-row vocabulary — its COUNT (n_vocab) and its top-(k+1)
    * frequencies — so both come bounded: a count aggregate and an
    * `orderBy.limit(HillK+1)` (TakeOrderedAndProject: per-partition
    * top-21, O(partitions·21) merge). No stage ranks the full
    * vocabulary; the residual rank window orders ≤ 21 rows. This
    * removed the repo's last V-cardinality single-partition sort (the
    * round-11 verdict item; the old window spelling is GraphTextSpec's
    * reference, pinned result-identical, and was measured against it at
    * the sf1 decade + the 10×-vocabulary control, SURVEY §8.13). */
  def qTailIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val wc = TextPipeline.words(Tables.documents(s, dir), "text")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    val nv = wc.agg(count(lit(1)).cast("long").as("n_vocab"))
    val withK = wc.orderBy(col("f").desc, col("word").asc).limit(HillK + 1)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("word").asc)))
      .crossJoin(broadcast(nv))
      .withColumn("k", least(lit(HillK.toLong), col("n_vocab") - 1))
    val fref = withK.filter(col("rank") === col("k") + 1)
      .select(col("f").as("f_ref"))
    withK.filter(col("rank") <= col("k"))
      .crossJoin(broadcast(fref))
      .groupBy(col("n_vocab"), col("k"), col("f_ref"))
      .agg(sum(qlog(col("f")) - qlog(col("f_ref"))).as("denom_micros"))
      .select(col("n_vocab"), col("k"), col("f_ref"), col("denom_micros"),
        when(col("denom_micros") > 0,
          expr("k * 1000000000000 div denom_micros"))
          .otherwise(lit(null).cast("long")).as("alpha_log2_micros"))
  }

  /** Multinomial Naive Bayes language classifier — the LEARNED twin of
    * [[qLangId]]'s heuristic rule, and the shape of the
    * quality/language classifier stage every production corpus pipeline
    * runs (label with cheap heuristics, train a linear model, apply at
    * scale — the CCNet / fastText-filter pattern). Train docs (content-
    * hash split, the q_train_split doctrine: pmod(h32(doc_id), 4) ≠ 0)
    * fit class priors and Laplace-smoothed unigram likelihoods; test
    * docs score per class and take the argmax; the gated output is the
    * confusion matrix (y_true, y_pred, n_docs) — which on THIS fixture
    * honestly reads ≈ chance, because the corpus generator draws text
    * independently of the lang column. The spec proves the learner on
    * an engineered corpus with real signal (separable vocabularies →
    * perfect diagonal; unseen-vocabulary docs fall back to the prior
    * argmax; Laplace keeps cross-class words finite).
    *
    * Cross-engine exactness: every score is INTEGER — log-probabilities
    * live on the verified 1e-6 BIGINT log2 grid (the q_benford /
    * q_survival qlog discipline; all qlog arguments are integers):
    * score = [qlog(n_docs_c) − qlog(n_docs)] + Σ_w tf_w ·
    * [qlog(n_wc + 1) − qlog(n_c + V)], the Laplace term coalescing to
    * qlog(1) = 0 for unseen (word, class) pairs. Integer sums are
    * partition-order-free; argmax ties break to the smallest class
    * name via the shared filter-on-max spelling (q_skew_advisor).
    *
    * Scale stance (100 TB): the model is the (class, word) count table
    * — vocab × classes rows (BPE-vocab scale → broadcastable), built by
    * one word-count-shaped aggregate over the training stream; n_c, V,
    * and priors are tiny aggregates DERIVED from the model and doc
    * counts, not second corpus scans. Scoring aggregates the test
    * stream to (doc, word, tf) first (hash/join per distinct pair, not
    * per occurrence), broadcast-joins the class spine, left-joins the
    * model, and partial-aggregates the integer sum — one shuffle on the
    * model key, one on doc_id. Docs with zero tokens carry no evidence
    * and are out of scope (both engines drop them in the explode). */
  def qNbLangId(s: SparkSession, dir: String): DataFrame =
    nbConfusion(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("y_true"), toks.as("w"),
        pmod(TextPipeline.h32(col("doc_id").cast("string")), lit(4)).as("b")))

  /** Core of [[qNbLangId]] over any (doc_id, y_true, w: array<string>,
    * b: int) relation — exposed so the spec can drive an engineered
    * corpus with real class signal through the exact production
    * spelling. */
  private[graft] def nbConfusion(docs: DataFrame): DataFrame = {
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val model = docs.filter(col("b") =!= 0)
      .select(col("y_true").as("y"), explode(col("w")).as("word"))
      .groupBy("y", "word").agg(count(lit(1)).as("n_wc"))
    val ctot = model.groupBy("y").agg(sum(col("n_wc")).as("n_c"))
    val vocab = model.agg(countDistinct(col("word")).as("v"))
    val cls = docs.filter(col("b") =!= 0)
      .groupBy(col("y_true").as("y")).agg(count(lit(1)).as("n_docs"))
    val nTot = cls.agg(sum(col("n_docs")).as("n_tot"))
    val spine = broadcast(cls.join(ctot, "y").crossJoin(vocab).crossJoin(nTot))
    val tf = docs.filter(col("b") === 0)
      .select(col("doc_id"), col("y_true"), explode(col("w")).as("word"))
      .groupBy("doc_id", "y_true", "word").agg(count(lit(1)).as("tf"))
    // model is vocab × classes (BPE-vocab scale at 100 TB) — explicitly
    // broadcast rather than left to the planner's size estimate
    val scored = tf.crossJoin(spine)
      .join(broadcast(model), Seq("y", "word"), "left")
      .groupBy(col("doc_id"), col("y_true"), col("y"),
        col("n_docs"), col("n_tot"))
      .agg(sum(col("tf") * (coalesce(qlog(col("n_wc") + 1), lit(0L))
        - qlog(col("n_c") + col("v")))).as("evidence"))
      .select(col("doc_id"), col("y_true"), col("y"),
        (qlog(col("n_docs")) - qlog(col("n_tot")) + col("evidence"))
          .as("score"))
    val best = scored.groupBy("doc_id").agg(max(col("score")).as("m"))
    scored.join(best, "doc_id")
      .filter(col("score") === col("m"))
      .groupBy(col("doc_id"), col("y_true")).agg(min(col("y")).as("y_pred"))
      .groupBy(col("y_true"), col("y_pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy("y_true", "y_pred")
  }

  /** Language ID, n-gram/stopword heuristic: deterministic rule so the
    * oracle can replicate it — predicted 'en' iff stopword ratio > 0.05. */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("w"))
      .select(col("doc_id"), col("lang"),
        when(size(filter(col("w"), x => x.isin(stop: _*))).cast("double") / size(col("w")) > 0.05,
          "en").otherwise("unk").as("predicted"))
      .orderBy("doc_id")

  /** Intra-document repetition score (Gopher-style quality signal): the
    * fraction of a document's word trigrams that are duplicates,
    * rep_ratio = 1 − distinct/total. Boilerplate and loop-generated text
    * score high; clean prose near 0. Pure array math off one scan — no
    * explode, no shuffle; the value is an integer ratio, exact in both
    * engines. */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextPipeline.trigrams(toks).as("tri"))
      .select(col("doc_id"),
        size(col("tri")).as("n_trigrams"),
        size(array_distinct(col("tri"))).as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_trigrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double")
            / col("n_trigrams").cast("double"), 6))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")

  /** Out-of-vocabulary rate per document against a corpus-derived top-16
    * vocabulary (count-desc, ties lexicographic — a total order, so the
    * cut is deterministic in both engines). The tokenizer-coverage
    * metric of a training pipeline: how much text a fixed vocab drops.
    *
    * Scale stance: the vocabulary is a TakeOrdered of the word counts
    * (K rows) and is explicitly broadcast — the corpus-side token stream
    * never shuffles for the membership test, and the per-doc aggregate
    * partial-aggregates map-side. At a real 100 TB corpus K grows to
    * ~10⁵ (BPE-vocab scale) and stays broadcastable. */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(16)
      .select(col("w"), lit(1).as("in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Document-level word co-occurrence association: for non-stopword pairs
    * appearing together in ≥ 5 documents, lift = P(a,b)/(P(a)·P(b)) =
    * c_ab·N / (c_a·c_b) — the rational argument of PMI (PMI = ln lift),
    * kept log-free for cross-engine exactness (see scaladoc above). Top 50
    * pairs by lift, ties broken lexicographically.
    *
    * Scale stance: the pair generator self-joins distinct (doc_id, word)
    * rows on doc_id — doc-local after ONE shuffle of narrow string pairs,
    * work Σ_doc u² bounded by the per-doc distinct-token cap (and a hot
    * doc is AQE skew-splittable); the support filter runs BEFORE the
    * per-word count joins so only surviving pairs shuffle again. c_ab·N
    * stays in exact long arithmetic (counts ≪ 2^31 here); a corpus where
    * N² overflows long would flip the one multiply to double. */
  def qCooccurLift(s: SparkSession, dir: String): DataFrame = {
    val dw = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(toks)).as("w"))
      .filter(!col("w").isin(stop: _*))
    val cw = dw.groupBy("w").agg(count(lit(1)).as("c"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val a = dw.select(col("doc_id"), col("w").as("wa"))
    val b = dw.select(col("doc_id"), col("w").as("wb"))
    a.join(b, "doc_id").filter(col("wa") < col("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
      .join(cw.select(col("w").as("wa"), col("c").as("c_a")), "wa")
      .join(cw.select(col("w").as("wb"), col("c").as("c_b")), "wb")
      .crossJoin(broadcast(n))
      .select(col("wa"), col("wb"), col("c_ab"), col("c_a"), col("c_b"),
        round((col("c_ab") * col("n_docs")).cast("double") /
          (col("c_a") * col("c_b")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("wa"), col("wb"))
      .limit(50)
  }

  /** TF-IDF-style top-5 salient terms per document (rational rarity weight,
    * see scaladoc above). Two aggregations + one join + one window. */
  def qTfidfTop(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("word"))
    // df = rows of tf per word (no distinct pass)
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      // cuts on/off: sf0.1 1.56/1.49 s, sf1 4.81/7.35 s (sf1 won 3/3)
      .transform(Lineage.cut) // 2 consumers: the df aggregate + the join probe
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // corpus size as a broadcast scalar subquery — NO driver-side action
    // inside an operator (a .count() here would serialize the job DAG)
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    tf.join(df_, "word").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          ((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"), col("rnk"))
      .orderBy("doc_id", "rnk", "word")
  }

  /** Document-pair similarity by SALIENT-TERM blocking: each document is
    * projected to its top-5 TF-IDF terms (the q_tfidf_top ranking — same
    * rational rarity weight, so the per-doc order is already proven
    * cross-engine exact); pairs sharing ≥ 4 salient terms are scored with
    * the exact integer Jaccard of the two salient sets. The sparse-vector
    * twin of q_ngram_jaccard: where shingles catch near-verbatim
    * duplication, salient-term overlap catches topical similarity.
    *
    * Plan: 4-SUBSET SIGNATURE blocking — a pigeonhole equi-join that is
    * EXACT, not just a filter. Per-word postings (the q_ngram_jaccard
    * shape) are Σ_term df² and melt down when salient terms concentrate
    * (this fixture's 31-word vocabulary is the extreme case: 21 s at
    * sf0.1 for the naive plan, ~5 s prefix-filtered). Instead observe
    * that k ≤ 5 and the threshold is 4, so two docs share ≥ 4 terms IFF
    * they agree on some sorted 4-element subset of their salient sets:
    *  1. each doc emits its C(k,4) sorted 4-subsets (≤ 5 per doc) as
    *     join signatures;
    *  2. candidate pairs = hash equi-join on the signature — every
    *     collision already satisfies the threshold (sound AND complete:
    *     any 4 shared terms ARE a common 4-subset), so candidate count
    *     equals answer count, not Σ df²;
    *  3. the exact `shared` count still comes from the
    *     SortedIntersectCount merge kernel over the two sorted term
    *     arrays (shared can be 5 > threshold), via two broadcast joins
    *     against the doc-count-sized term table.
    * Everything joined is a string signature of sorted words — no float
    * ordering anywhere in candidate generation. At 100 TB the signature
    * join shuffles O(5·docs) narrow rows and AQE splits any hot
    * signature; there is no posting-list quadratic term at all. */
  def qDocSimilarity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("word"))
    // materialize tf once for its two consumers — one tokenize pass;
    // df = rows of tf per word, no distinct
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      // sf0.1 median, cuts on/off: 2.30/2.77 s (both cuts)
      .transform(Lineage.cut)
    val dfq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    val top5 = tf.join(dfq, "word").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          ((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("word"))
    // per-doc sorted salient set + its size (k ≥ 4 can reach the
    // threshold; k ≤ 5 by construction). Referenced by THREE downstream
    // branches (signatures + both verify sides) — materialize once
    // instead of re-running explode+aggs+window per branch.
    val sets = top5.groupBy("doc_id")
      .agg(sort_array(collect_list(col("word"))).as("terms"),
        count(lit(1)).as("k"))
      .filter(col("k") >= 4)
      // sf0.1 median, cuts on/off: 2.30/2.77 s (both cuts)
      .transform(Lineage.cut)
    // C(k,4) sorted 4-subsets per doc: k=4 → the set itself; k=5 → the 5
    // leave-one-out subsets. Tokens are [a-z]+ so the u0001 separator can never appear in a word and the signature is collision-free.
    val subs = sets.select(col("doc_id"),
        explode(when(col("k") === 5,
            transform(sequence(lit(0), lit(4)),
              i => filter(col("terms"), (_, j) => j =!= i)))
          .otherwise(array(col("terms")))).as("sub"))
      .select(col("doc_id"), concat_ws("\u0001", col("sub")).as("sig"))
    val cand = subs.select(col("sig"), col("doc_id").as("a_id"))
      .join(subs.select(col("sig"), col("doc_id").as("b_id")), "sig")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(broadcast(sets.select(col("doc_id").as("a_id"),
        col("terms").as("a_terms"), col("k").as("ka"))), "a_id")
      .join(broadcast(sets.select(col("doc_id").as("b_id"),
        col("terms").as("b_terms"), col("k").as("kb"))), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions.sortedIntersectCount(
          col("a_terms"), col("b_terms")).cast("long").as("shared"),
        col("ka"), col("kb"))
      .filter(col("shared") >= 4)
      .select(col("a_id"), col("b_id"), col("shared"),
        round(col("shared").cast("double")
          / (col("ka") + col("kb") - col("shared")).cast("double"), 6)
          .as("salient_jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Canonical-form document fingerprint: md5 of the normalized token
    * stream — the exact-dedup key for q_dedup_exact. */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextPipeline.exactFingerprint(toks).as("fingerprint"))
      .orderBy("doc_id")

  /** Winnowing window size (consecutive k-gram hashes per window);
    * private[graft]: Dedup's winnow-pair oracle inlines the same W, and
    * streaming.Windows.winnowFingerprints mirrors the same selection. */
  private[graft] val WinnowW = 4

  /** Winnowed k-gram fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003): hash every
    * word trigram, slide a window of [[WinnowW]] consecutive hashes, keep
    * each window's minimum, report the distinct selected hashes per doc.
    * Guarantee: any two documents sharing a run of ≥ WinnowW + 2 consecutive
    * words share at least one fingerprint, while only ~2/(W+1) of the k-gram
    * hashes are retained — the sub-linear sketch MOSS-style near-dup
    * detection joins on. Exact-duplicate documents get identical fingerprint
    * SETS by construction (pinned against q_dedup_exact in the spec).
    *
    * Scale stance (100 TB): the selection is per-document work (trigrams →
    * h32 → window minima → distinct); the relational spelling below
    * shuffles narrow (doc_id, pos, hash) rows once, the same volume the
    * dedup join shuffles anyway, and a dedup pipeline joins on
    * (fingerprint) next — the bucketed-candidate shape of the LSH band
    * join. Docs with fewer than W trigrams contribute their global minimum
    * (one window), so every doc with a trigram has ≥ 1 fingerprint.
    */
  def qFingerprintWinnow(s: SparkSession, dir: String): DataFrame =
    winnowFps(s, dir).select("doc_id", "fingerprint")
      .orderBy("doc_id", "fingerprint")

  /** (doc_id, lang, fingerprint): the exploded winnowed-fingerprint
    * relation behind [[qFingerprintWinnow]] and Dedup.qDedupWinnow — one
    * definition so the selection rule can't drift between the report and
    * the pair join that dedups on it. */
  private[queries] def winnowFps(s: SparkSession, dir: String): DataFrame =
    winnowFpsOf(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("w")))

  /** [[winnowFps]] over any pre-tokenized (doc_id, lang, w) relation —
    * the composed pipeline (Corpus.qCorpusPipelineFull) fingerprints the
    * CLEANED token stream, not raw text, so the selection core must not
    * bake the raw-document scan in.
    *
    * Formulation note: the batch face computes the window minima
    * RELATIONALLY (posexplode the hash array once, per-doc ROWS-frame
    * `min` window, distinct). The per-row HOF spelling ([[winnowRowLocal]],
    * which the streaming faces must run) is linear too once its hash array
    * is materialized, and selects the identical set; it is not used here
    * because it measured slower in-suite. At sf0.1 (one input split) the
    * row-local selection runs in the scan's single task and is computed
    * once per consumer — twice in the self-joins of q_dedup_winnow and
    * q_dedup_containment, twice in q_fingerprint_winnow's range sort
    * (its sample job re-runs it) — while the window's shuffle spreads the
    * minima over tasks and is reused. Bench (4 cpus, 1 pair) read
    * q_dedup_winnow 3.79 → 5.00 s and q_fingerprint_winnow 1.23 → 1.41 s
    * for the row-local spelling (ROADMAP item 4 has the full numbers). */
  private[queries] def winnowFpsOf(rel: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = transform(TextPipeline.trigrams(col("w")), t => TextPipeline.h32(t))
    // ONLY posexplode references the pipeline. A `size(g).as("n")` sibling
    // column looks free but lands in the Project ABOVE the Generate — the
    // optimizer then re-derives the whole tokenize→trigram→md5 chain per
    // EXPLODED ROW (O(n²) again, measured 6.3 s); the k-gram count is
    // recovered from max(pos) over the doc partition instead, which rides
    // the window's existing sort for free.
    val rows = rel
      .select(col("doc_id"), col("lang"), posexplode(g).as(Seq("pos", "h")))
    // min over hashes [pos, pos+W-1]; keep window STARTS (pos ≤ n−W), or
    // pos 0 alone when the doc has fewer than W k-grams (its frame then
    // covers the whole array — the short-doc single-window fallback)
    val wMin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val wDoc = Window.partitionBy(col("doc_id"))
    rows.withColumn("wmin", min(col("h")).over(wMin))
      .withColumn("maxp", max(col("pos")).over(wDoc))
      .filter(col("pos") <= greatest(col("maxp") - (WinnowW - 1), lit(0)))
      .select(col("doc_id"), col("lang"), col("wmin").as("fingerprint"))
      .distinct()
  }

  /** The winnow selection as one row-local fragment — the spelling both
    * streaming faces run (Windows.winnowFingerprints and
    * Windows.dedupIndexProbeStream), since a window function cannot run
    * on an unbounded stream. Per row of `rel`: hash each trigram of the
    * token column `w` (h32), take the minimum of each window of
    * [[WinnowW]] consecutive hashes over starts 1..max(n−W+1, 1), and
    * emit one row per distinct minimum as `fingerprint`, next to the
    * `keep` columns. A row without a trigram (NULL, empty or under 3
    * tokens) emits nothing. Selects exactly [[winnowFpsOf]]'s set
    * (StreamingSpec pins streaming == batch).
    *
    * The hash array is MATERIALIZED in its own projection before the
    * selection lambda reads it. Higher-order lambdas run interpreted with
    * no common-subexpression elimination, so a lambda over the
    * trigram→h32 expression itself would re-derive it per window start —
    * O(n²) digest work (measured 11.1 s vs 0.5 s at sf0.001). Read through
    * a column, the hashes are computed once per row: the optimized plan
    * holds `h32(` exactly once (DedupSimilaritySpec pins it). */
  private[graft] def winnowRowLocal(rel: DataFrame, w: Column,
      keep: String*): DataFrame = {
    val kept = keep.map(col)
    val hs = col("winnow_hs")
    rel.select(kept :+ transform(TextPipeline.trigrams(w),
        t => TextPipeline.h32(t)).as("winnow_hs"): _*)
      .select(kept :+ explode(array_distinct(transform(
          sequence(lit(1), greatest(size(hs) - (WinnowW - 1), lit(1))),
          i => array_min(slice(hs, i, lit(WinnowW)))))).as("fingerprint"): _*)
      .filter(col("fingerprint").isNotNull)
  }

  /** Token-length histogram per language via the custom typed Aggregator
    * (graft.functions.LenHistogram — the UDAF extension point). Exact
    * integer buckets → oracle hash-comparable despite custom code. */
  def qLenHistogram(s: SparkSession, dir: String): DataFrame = {
    val hist = udaf(graft.functions.LenHistogram)
    val base = Tables.documents(s, dir)
      .select(col("lang"), toks.as("w"))
      .select(col("lang"), transform(col("w"), t => length(t)).as("lens"))
      .groupBy("lang").agg(hist(col("lens")).as("h"))
    base.select(col("lang") +:
      (0 until graft.functions.LenHistogram.NumBuckets)
        .map(i => element_at(col("h"), i + 1).as(s"h$i")): _*)
      .orderBy("lang")
  }

  /** Count-min sketch shape: d hash rows × w counters, universal-hash
    * constants literal-inlined into BOTH engines (the Dedup MinHash
    * pattern). */
  private val CmP = 1000000007L
  private val CmD = 4
  private val CmW = 64
  private val cmA: IndexedSeq[Long] = (1 to CmD).map(i => (2654435761L * i) % CmP)
  private val cmB: IndexedSeq[Long] = (1 to CmD).map(i => (40503L * i * 2654435761L) % CmP)

  /** Count-min heavy hitters: a d×w frequency sketch over the word stream
    * plus the exact top-10 words with their sketch estimates — the
    * overestimate-only (est ≥ true) frequency structure a 100 TB pipeline
    * uses to DETECT hot keys (the inputs to salting/skew handling) with
    * O(d·w) mergeable state instead of a full per-key aggregate. Both the
    * counters (integer sums — commutative, partition-order-free) and the
    * estimates (min over d counters) are deterministic, so the sketch
    * itself is oracle-verified, like KMV and unlike HLL. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val aArr = array(cmA.map(lit): _*)
    val bArr = array(cmB.map(lit): _*)
    val counts = TextPipeline.words(Tables.documents(s, dir), "text")
      .groupBy("word").agg(count(lit(1)).as("n"))
    val slots = counts
      .withColumn("h", pmod(TextPipeline.h32(col("word")), lit(CmP)))
      .select(col("word"), col("n"), col("h"),
        explode(sequence(lit(0), lit(CmD - 1))).as("i"))
      .withColumn("bucket",
        pmod(pmod(element_at(aArr, col("i") + 1) * col("h")
          + element_at(bArr, col("i") + 1), lit(CmP)), lit(CmW)))
    val counters = slots.groupBy("i", "bucket").agg(sum(col("n")).as("c"))
    val top = counts.orderBy(col("n").desc, col("word").asc).limit(10)
    slots.join(broadcast(top.select("word")), "word")
      .join(broadcast(counters), Seq("i", "bucket"))
      .groupBy("word", "n").agg(min(col("c")).as("cm_est"))
      .select(col("word"), col("n"), col("cm_est"))
      .orderBy(col("n").desc, col("word").asc)
  }

  /** Shannon unigram entropy per document — the repetition/diversity
    * quality signal (low entropy ⇒ boilerplate or token spam; uniform
    * vocabulary ⇒ log2(n)). H = log2(n) − (Σ c·log2(c))/n over term
    * frequencies c.
    *
    * Determinism: the Σ c·log2(c) term quantizes each contribution to a
    * 1e-6 BIGINT grid before summing (the q_pagerank trick) — integer
    * sums are order-free, so the result is bit-identical under any
    * partitioning. Cross-engine, c·log2(c)·1e6 rounds identically in
    * Java and DuckDB for every c ≤ 59,069 (verified exhaustively;
    * within-document term frequencies are ~2 orders of magnitude below
    * that), so the transcendental stays out of the hash-compared value
    * in exactly the way the file-header stance requires. */
  private[graft] def tokenEntropy(docs: DataFrame): DataFrame =
    // Per-document statistic ⇒ per-ROW computation, as a native one-pass
    // kernel (graft.plans.EntropyQsum). Three formulations measured at
    // sf0.1 local[32]: explode → groupBy(doc, word) → groupBy(doc)
    // shuffles the whole exploded corpus twice (0.69 s here — cheap
    // memcpy locally, a corpus-wide exchange at 100 TB); the
    // shuffle-free aggregate-HOF run scan pays interpreted
    // struct-per-element lambdas (1.16 s); the kernel is zero-shuffle
    // with a per-row hash-count loop (0.67-0.84 s across sessions,
    // scan+tokenize-bound) — it matches the shuffle spelling's local
    // time while deleting both exchanges, so it wins at both scales.
    // Round-7 note: the round-6 numbers were unknowingly measured on the
    // kernel's interpreted fallback (its generated code didn't compile
    // under Janino — fixed); re-measured with codegen verified active,
    // the time is statistically unchanged, because interpreted eval and
    // the generated loop run the same HashMap count — the kernel's win
    // is the PLAN SHAPE (zero shuffles, one pass), not codegen
    // micro-speed. Quantization contract unchanged (1e-6 BIGINT grid,
    // order-free long sums, cross-engine-exact for c ≤ 59,069).
    docs.select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        graft.functions.VectorFunctions.entropyQsum(col("w")).as("qsum"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        round(log2(col("n").cast("double"))
          - (col("qsum").cast("double") / lit(1000000.0))
            / col("n").cast("double"), 4).as("entropy"))

  def qTokenEntropy(s: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables.documents(s, dir)).orderBy("doc_id")

  /** Positional phrase search ("fast table"): the inverted-POSITIONAL-
    * index plan. Tokens posexplode once; only the two phrase terms'
    * postings survive the filters, and adjacency is an equi-join on
    * (doc_id, pos) with the second term shifted by −1 — no text ever
    * shuffles, and at 100 TB each term's postings list is a narrow
    * (doc, pos) stream that AQE can broadcast when the term is rare.
    * Output: matching docs with occurrence counts. */
  private[graft] def phraseHits(docs: DataFrame, first: String, second: String): DataFrame = {
    val pos = docs.select(col("doc_id"), col("lang"),
      posexplode(toks).as(Seq("pos", "word")))
    val a = pos.filter(col("word") === first)
      .select(col("doc_id"), col("lang"), col("pos"))
    val b = pos.filter(col("word") === second)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("n_hits"))
  }

  def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    phraseHits(Tables.documents(s, dir), "fast", "table").orderBy("doc_id")

  /** Per-source unigram KL divergence from the corpus distribution —
    * the distribution-drift / domain-shift monitor a data-quality
    * pipeline runs per ingestion source (a source whose word
    * distribution diverges from the corpus signals crawl drift, spam
    * injection, or a broken extractor). KL(pₛ‖q) in bits, where pₛ is
    * the source's unigram distribution and q the whole-corpus one;
    * support is total by construction (every source word is in the
    * corpus vocabulary), so no smoothing term is needed.
    *
    * Determinism (the q_token_entropy algebra): with p = c_sw/nₛ and
    * q = c_w/N, KL = (Σ_w c_sw·(qlog(c_sw) − qlog(c_w)))/(nₛ·1e6)
    * − (qlog(nₛ) − qlog(N))/1e6 — every log2 argument is an integer
    * COUNT quantized on the verified 1e-6 BIGINT grid, the inner sum is
    * a commutative integer sum, and the two divisions happen once at
    * the end (identical doubles both engines, rounded to 6 dp).
    *
    * Scale shape: one (source, word) partial-agg shuffle (the wordcount
    * shape); the corpus marginal c_w derives from the same relation and
    * joins back on word (co-partitioned); per-source totals are a tiny
    * broadcast. */
  def qKlDrift(s: SparkSession, dir: String): DataFrame = {
    val qlog = (c: Column) => round(log2(c.cast("double")) * 1e6).cast("long")
    val sw = TextPipeline.words(Tables.documents(s, dir), "text", keep = Seq("source"))
      .groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
      // sf0.1 median, cuts on/off: 0.77/0.99 s
      .transform(Lineage.cut) // feeds the marginal AND the scoring join once
    val cw = sw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val ns = sw.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
    val bigN = ns.agg(sum(col("n_s")).as("big_n"))
    sw.join(cw, "word")
      .select(col("source"),
        (col("c_sw") * (qlog(col("c_sw")) - qlog(col("c_w")))).as("contrib"))
      .groupBy("source").agg(sum(col("contrib")).as("qsum"))
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(bigN))
      .select(col("source"), col("n_s").as("n_tokens"),
        round(col("qsum").cast("double") / (col("n_s").cast("double") * 1e6)
          - (qlog(col("n_s")) - qlog(col("big_n"))).cast("double") / 1e6,
          6).as("kl_bits"))
      .orderBy("source")
  }

  /** Per-language readability via the FORCAST formula — chosen over
    * Flesch-Kincaid deliberately: FK needs sentence boundaries and this
    * corpus has NO terminal punctuation (every doc would clamp to one
    * "sentence", reducing FK to noise), while FORCAST was designed for
    * exactly such non-prose text and uses only the monosyllabic-word
    * rate: grade = 20 − 15·(mono/words). Syllables are estimated as
    * vowel-group runs (`[aeiouy]+`), the standard heuristic; mono =
    * tokens with ≤ 1 run. All integer: per-doc centigrade
    * 2000 − (1500·mono) DIV w, per-language mean by integer DIV —
    * zero float, so the oracle is bit-exact.
    *
    * Scale stance (100 TB): one narrow codegen pass computes (w, mono)
    * per document — the regexp runs inside `filter(transform(...))` on
    * the token array, no explode, no shuffle of text — then a partial
    * agg on the handful of language keys. The shuffle carries five
    * 4-long rows per partition. */
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val w = size(toks).cast("long")
    val mono = size(filter(toks, t =>
      size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))) <= 1)).cast("long")
    Tables.documents(s, dir)
      .select(col("lang"), w.as("w"), mono.as("mono"))
      .filter(col("w") >= 1)
      .withColumn("gc", lit(2000L) - expr("(1500 * mono) div w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(gc) div count(1)").as("avg_grade_centi"),
        min(col("gc")).as("min_grade_centi"),
        max(col("gc")).as("max_grade_centi"),
        expr("sum(mono) * 1000000 div sum(w)").as("mono_ppm"))
      .orderBy("lang")
  }

  /** Classifier-quality dashboard for [[qLangId]]: the predicted-label
    * distribution against the fixture's labeled `lang` column, per true
    * language plus an `__all__` total row — the eval-doctrine
    * (q_dedup_eval / q_ann_recall_eval) applied to the language-ID
    * heuristic. `correct` is per-row consistent: docs predicted 'en'
    * when lang = 'en', docs predicted 'unk' otherwise (the rule only
    * claims to DETECT English); accuracy is integer ppm. A corpus-mix
    * shift that breaks the stopword threshold shows up here, in the
    * verify gate, not in production.
    *
    * Scale stance (100 TB): evaluates the SHIPPED [[qLangId]] output —
    * one narrow pass over documents, partial agg on the handful of
    * language keys, a 1-row total; nothing beyond the base query's
    * cost. */
  def qLangIdEval(s: SparkSession, dir: String): DataFrame = {
    val per = qLangId(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === "en", 1L).otherwise(0L)).as("pred_en"),
        sum(when(col("predicted") === "unk", 1L).otherwise(0L)).as("pred_unk"))
      .withColumn("correct",
        when(col("lang") === "en", col("pred_en")).otherwise(col("pred_unk")))
    val total = per.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("pred_en")).as("pred_en"),
        sum(col("pred_unk")).as("pred_unk"),
        sum(col("correct")).as("correct"))
      .select(lit("__all__").as("lang"), col("n_docs"), col("pred_en"),
        col("pred_unk"), col("correct"))
    per.select(col("lang"), col("n_docs"), col("pred_en"),
        col("pred_unk"), col("correct"))
      .unionAll(total)
      .withColumn("accuracy_ppm", expr("correct * 1000000 div n_docs"))
      .orderBy("lang")
  }

  /** Corpus diversity (distinct-n): per source, the distinct/total ratio
    * of unigrams and word-trigrams in integer ppm — the standard
    * self-repetition diagnostic for generated or templated text (a source
    * whose distinct-3 ratio collapses is recycling phrasing even when
    * exact dedup finds nothing). Complements [[qRepetition]] (per-doc
    * repetition) with the corpus-level view per source.
    *
    * Scale stance (100 TB): both streams are wordcount-shaped — explode,
    * then partial-aggregate map-side; the distinct side shuffles
    * (source, gram) pairs, i.e. vocabulary/shingle-type cardinality,
    * never corpus token cardinality. The two aggregates join on the tiny
    * source dimension (full-outer so a short-doc-only source that emits
    * zero trigrams still reports, with tri counts 0). */
  def qDistinctNgrams(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("source"), toks.as("w"))
    val uni = base.select(col("source"), explode(col("w")).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("uni_total"),
        countDistinct(col("g")).as("uni_distinct"))
    val tri = base
      .select(col("source"), explode(TextPipeline.trigrams(col("w"))).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("tri_total"),
        countDistinct(col("g")).as("tri_distinct"))
    uni.join(tri, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("uni_total"), lit(0L)).as("uni_total"),
        coalesce(col("uni_distinct"), lit(0L)).as("uni_distinct"),
        coalesce(col("tri_total"), lit(0L)).as("tri_total"),
        coalesce(col("tri_distinct"), lit(0L)).as("tri_distinct"))
      .withColumn("uni_distinct_ppm",
        when(col("uni_total") > 0,
          expr("uni_distinct * 1000000 div uni_total")))
      .withColumn("tri_distinct_ppm",
        when(col("tri_total") > 0,
          expr("tri_distinct * 1000000 div tri_total")))
      .orderBy("source")
  }

  /** Vocabulary coverage@k: the share of corpus TOKENS covered by the
    * top-k frequency-ranked word types, for k ∈ {1,2,4,8,16} — the other
    * axis of tokenizer sizing next to Corpus.qHeapsLaw (growth says how
    * many types exist; coverage says how few you can keep). Zipf's law
    * makes this curve steep; the measured table replaces the guess.
    *
    * Scale stance (100 TB): one wordcount partial agg; then — because
    * only ranks ≤ [[VocabKMax]] can ever contribute — the top types come
    * from a BOUNDED `orderBy.limit` (TakeOrderedAndProject: per-partition
    * top-16, O(partitions·16) merge), never an unpartitioned rank window
    * over the V-row vocabulary (the round-10 watch item: at V ~ 1e9 that
    * single-partition sort is the one stage that doesn't scale; measured
    * against the window spelling at the sf1 decade and on the 10×-
    * vocabulary open-vocab control, SURVEY §8.12). The residual rank
    * window orders 16 rows; the k-spine and total stay broadcast. */
  private[graft] val VocabKMax = 16

  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = TextPipeline.words(Tables.documents(s, dir), "text")
      .groupBy("word").agg(count(lit(1)).as("f"))
    val tot = wc.agg(sum(col("f")).as("total_tokens"))
    val ranked = wc.orderBy(col("f").desc, col("word")).limit(VocabKMax)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("word"))))
    val spine = s.range(5).select(expr("shiftleft(1L, cast(id AS int))")
      .as("k"))
    ranked.crossJoin(broadcast(spine))
      .filter(col("rank") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm",
        when(col("total_tokens") > 0,
          expr("covered_tokens * 1000000 div total_tokens")))
      .orderBy("k")
  }

  /** Whole-word unicode decorations for [[qUnicodeTokens]] — each a fine
    * point the ASCII reference tokenizer cannot see, applied identically
    * in both engines (the list is ordered; the oracle mirrors it as a
    * CASE):
    *  - `data` → the NFD spelling of "dátá" (a + U+0301 combining acute
    *    twice) — NFC must COMPOSE it to precomposed U+00E1;
    *  - `big` → full-width Ｂ Ｉ Ｇ (U+FF22…) — NFC is canonical-only, so
    *    full-width survives normalization (NFC ≠ NFKC, pinned in spec)
    *    and only casefolding maps it to full-width small;
    *  - `filter` → FİLTER with the Turkish dotted capital İ (U+0130) —
    *    the ONE casefold rule the engines' `lower()` disagree on
    *    (Java: i + U+0307 combining dot, DuckDB: bare i), so the full
    *    Unicode casefold İ → i + U+0307 is spelled EXPLICITLY as a
    *    pre-`lower` replacement in both engines;
    *  - `fast` → the NFD spelling of "FÁST" — composition before
    *    casefolding (the production order: NFC, then fold);
    *  - `slow` → "slow—down" with an em-dash (U+2014) — a non-ASCII
    *    non-letter the letter-class tokenizer must split on. */
  private[graft] val UnicodeDeco: Seq[(String, String)] = Seq(
    "data" -> "da\u0301ta\u0301",   // NFD: a + combining acute, twice
    "big" -> "\uFF22\uFF29\uFF27", // full-width B I G
    "filter" -> "F\u0130LTER",       // Turkish dotted capital I
    "fast" -> "FA\u0301ST",          // NFD: capital + combining acute
    "slow" -> "slow\u2014down")      // em-dash separator

  /** Unicode/multilingual tokenizer rung (round-13 VERDICT Next #5): the
    * real-crawl tokenization chain — NFC normalize → explicit Turkish-İ
    * full casefold → `lower()` → letter-class tokenize ([\p{L}\p{M}]+ —
    * marks INCLUDED so a combining sequence like i+U+0307 stays one
    * token) — as a word count over the documents fixture. The fixture is
    * pure ASCII (driver-generated), so the non-ASCII surface is a
    * DETERMINISTIC whole-word decoration ([[UnicodeDeco]]) applied
    * identically in both engines: the unicode path is exercised on known
    * hard cases while the oracle still recomputes every byte from the
    * same parquet.
    *
    * The reference-faithful `[a-zA-Z]` path (TextPipeline, §2.3) is
    * untouched — this is the extension tokenizer a multilingual corpus
    * needs beside it. NFC on the Spark side is [[nfc]] (Spark ships no
    * normalization builtin); DuckDB's `nfc_normalize` is the oracle twin,
    * both implementing UAX #15.
    *
    * Scale stance (100 TB): per-row scalar chain → explode → one
    * partial-aggregated count — exactly the wordcount shape, nothing new
    * to shuffle. */
  /** Unicode NFC (UAX #15 canonical composition) of a STRING column via
    * the JDK's `java.text.Normalizer`; NULL stays NULL. A native kernel
    * with an ASCII zero-copy path did not pay against this UDF: noop-sink
    * medians over sf0.1 `documents.text`, `local[4]`, read 0.042 vs
    * 0.046 s at 5k rows and 0.050 vs 0.038 s at 50k (ROADMAP item 3). */
  private[graft] val nfc = udf((t: String) =>
    if (t == null) null
    else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))

  def qUnicodeTokens(s: SparkSession, dir: String): DataFrame = {
    val decorate = (t: Column) => UnicodeDeco.foldRight(t) {
      case ((k, v), els) => when(t === k, lit(v)).otherwise(els) }
    val norm = lower(regexp_replace(
      nfc(
        concat_ws(" ", transform(split(col("text"), " "), decorate))),
      "\u0130", "i\u0307"))
    Tables.documents(s, dir)
      .select(explode(regexp_extract_all(norm,
        lit("[\\p{L}\\p{M}]+"), lit(0))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy("token")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unicode_tokens" -> (qUnicodeTokens _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_distinct_ngrams" -> (qDistinctNgrams _),
    "q_lang_id_eval" -> (qLangIdEval _),
    "q_readability" -> (qReadability _),
    "q_kl_drift" -> (qKlDrift _),
    "q_token_entropy" -> (qTokenEntropy _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_len_histogram" -> (qLenHistogram _),
    "q_token_stats" -> (qTokenStats _),
    "q_quality_score" -> (qQualityScore _),
    "q_token_counts" -> (qTokenCounts _),
    "q_bigrams_top" -> (qBigramsTop _),
    "q_bigram_lm" -> (qBigramLm _),
    "q_perplexity_filter" -> (qPerplexityFilter _),
    "q_tail_index" -> (qTailIndex _),
    "q_trigram_novelty" -> (qTrigramNovelty _),
    "q_lang_id" -> (qLangId _),
    "q_nb_lang_id" -> (qNbLangId _),
    "q_tfidf_top" -> (qTfidfTop _),
    "q_cooccur_lift" -> (qCooccurLift _),
    "q_repetition" -> (qRepetition _),
    "q_oov_rate" -> (qOovRate _),
    "q_doc_similarity" -> (qDocSimilarity _),
    "q_fingerprint" -> (qFingerprint _),
    "q_fingerprint_winnow" -> (qFingerprintWinnow _),
  )

  /** DuckDB literal for a (possibly non-ASCII) string as ASCII-only SQL:
    * runs of ASCII stay quoted text, every non-ASCII codepoint becomes
    * chr(n) — so the oracle file carries no raw unicode the transport
    * could mangle, and the decoration values are derived from the ONE
    * [[UnicodeDeco]] list the Spark plan uses. */
  private def duckLit(v: String): String = {
    val parts = scala.collection.mutable.Buffer[String]()
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { parts += s"'${sb.result()}'"; sb.clear() }
    v.foreach { c =>
      if (c < 128) sb.append(c) else { flush(); parts += s"chr(${c.toInt})" } }
    flush()
    parts.mkString(" || ")
  }

  val oracle: Map[String, String] = Map(
    // Same content-hash split, same Laplace-smoothed integer-qlog
    // scores, same filter-on-max argmax with min-class tie-break.
    "q_nb_lang_id" -> {
      def ql(e: String) = s"CAST(round(log2($e) * 1000000) AS BIGINT)"
      s"""WITH d AS (SELECT doc_id, lang AS y_true, $duckToks AS w,
         |    ${TextPipeline.duckH32("CAST(doc_id AS VARCHAR)")} % 4 AS b
         |  FROM documents),
         |tok_tr AS (SELECT y_true AS y, unnest(w) AS word
         |  FROM d WHERE b <> 0),
         |model AS (SELECT y, word, CAST(count(*) AS BIGINT) AS n_wc
         |  FROM tok_tr GROUP BY y, word),
         |ctot AS (SELECT y, CAST(sum(n_wc) AS BIGINT) AS n_c
         |  FROM model GROUP BY y),
         |vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
         |  FROM model),
         |cls AS (SELECT y_true AS y, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM d WHERE b <> 0 GROUP BY y_true),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot FROM cls),
         |tf AS (SELECT doc_id, y_true, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, y_true, unnest(w) AS word
         |        FROM d WHERE b = 0)
         |  GROUP BY 1, 2, 3),
         |scored AS (SELECT t.doc_id, t.y_true, c.y,
         |    ${ql("c.n_docs")} - ${ql("n_tot")}
         |      + sum(t.tf * (coalesce(${ql("m.n_wc + 1")}, 0)
         |          - ${ql("ct.n_c + v.v")})) AS score
         |  FROM tf t CROSS JOIN cls c
         |  JOIN ctot ct ON ct.y = c.y
         |  CROSS JOIN vocab v CROSS JOIN tot
         |  LEFT JOIN model m ON m.y = c.y AND m.word = t.word
         |  GROUP BY t.doc_id, t.y_true, c.y, c.n_docs, n_tot),
         |mx AS (SELECT doc_id, max(score) AS m FROM scored GROUP BY doc_id),
         |pred AS (SELECT s.doc_id, s.y_true, min(s.y) AS y_pred
         |  FROM scored s JOIN mx ON s.doc_id = mx.doc_id AND s.score = mx.m
         |  GROUP BY s.doc_id, s.y_true)
         |SELECT y_true, y_pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred GROUP BY 1, 2 ORDER BY y_true, y_pred""".stripMargin
    },
    // Identical decoration CASE (derived from the same UnicodeDeco list),
    // same NFC -> explicit Turkish-fold -> lower -> letter+mark-class
    // tokenize chain, same count.
    "q_unicode_tokens" -> {
      val cases = UnicodeDeco.map { case (k, v) =>
        s"WHEN '$k' THEN ${duckLit(v)}" }.mkString(" ")
      s"""WITH deco AS (SELECT doc_id,
         |    list_transform(string_split(text, ' '),
         |      t -> CASE t $cases ELSE t END) AS ws
         |  FROM documents),
         |norm AS (SELECT lower(replace(
         |    nfc_normalize(list_aggr(ws, 'string_agg', ' ')),
         |    chr(304), 'i' || chr(775))) AS s FROM deco),
         |tok AS (SELECT unnest(regexp_extract_all(s,
         |    '[\\p{L}\\p{M}]+')) AS token FROM norm)
         |SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |FROM tok GROUP BY token ORDER BY token""".stripMargin
    },
    // Same wordcount, same (f DESC, word) rank, same k-spine coverage.
    "q_vocab_coverage" ->
      s"""WITH wc AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS f
         |  FROM (SELECT unnest($duckToks) AS w FROM documents) GROUP BY 1),
         |r AS (SELECT word, f,
         |        row_number() OVER (ORDER BY f DESC, word ASC) AS rank
         |      FROM wc),
         |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens FROM wc),
         |sp AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS k)
         |SELECT k, CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(f) AS BIGINT) AS covered_tokens, total_tokens,
         |  CASE WHEN total_tokens > 0
         |       THEN CAST(sum(f) AS BIGINT) * 1000000 // total_tokens END
         |    AS coverage_ppm
         |FROM r, sp, tot WHERE rank <= k
         |GROUP BY k, total_tokens ORDER BY k""".stripMargin,
    // Same two wordcount-shaped streams, same full-outer source join,
    // integer-ppm ratios.
    "q_distinct_ngrams" ->
      s"""WITH d AS (SELECT source, $duckToks AS w FROM documents),
         |uni AS (SELECT source, CAST(count(*) AS BIGINT) AS uni_total,
         |    CAST(count(DISTINCT g) AS BIGINT) AS uni_distinct
         |  FROM (SELECT source, unnest(w) AS g FROM d) GROUP BY source),
         |tri AS (SELECT source, CAST(count(*) AS BIGINT) AS tri_total,
         |    CAST(count(DISTINCT g) AS BIGINT) AS tri_distinct
         |  FROM (SELECT source, unnest(${TextPipeline.duckTrigrams("w")}) AS g
         |        FROM d) GROUP BY source)
         |SELECT source,
         |  coalesce(uni_total, 0) AS uni_total,
         |  coalesce(uni_distinct, 0) AS uni_distinct,
         |  coalesce(tri_total, 0) AS tri_total,
         |  coalesce(tri_distinct, 0) AS tri_distinct,
         |  CASE WHEN coalesce(uni_total, 0) > 0
         |       THEN coalesce(uni_distinct, 0) * 1000000
         |              // coalesce(uni_total, 0) END AS uni_distinct_ppm,
         |  CASE WHEN coalesce(tri_total, 0) > 0
         |       THEN coalesce(tri_distinct, 0) * 1000000
         |              // coalesce(tri_total, 0) END AS tri_distinct_ppm
         |FROM uni FULL OUTER JOIN tri USING (source)
         |ORDER BY source""".stripMargin,
    // The q_lang_id rule re-applied, then the same per-lang + __all__
    // confusion rollup; accuracy by integer division.
    "q_lang_id_eval" ->
      s"""WITH p AS (SELECT lang,
         |    CASE WHEN CAST(len(list_filter($duckToks, x -> x IN $duckStop))
         |              AS DOUBLE) / len($duckToks) > 0.05
         |         THEN 'en' ELSE 'unk' END AS predicted
         |  FROM documents),
         |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN predicted = 'en' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pred_en,
         |    CAST(sum(CASE WHEN predicted = 'unk' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pred_unk
         |  FROM p GROUP BY lang),
         |per2 AS (SELECT *, CASE WHEN lang = 'en' THEN pred_en
         |                        ELSE pred_unk END AS correct FROM per),
         |tot AS (SELECT '__all__' AS lang,
         |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |    CAST(sum(pred_en) AS BIGINT) AS pred_en,
         |    CAST(sum(pred_unk) AS BIGINT) AS pred_unk,
         |    CAST(sum(correct) AS BIGINT) AS correct FROM per2)
         |SELECT lang, n_docs, pred_en, pred_unk, correct,
         |  correct * 1000000 // n_docs AS accuracy_ppm
         |FROM (SELECT * FROM per2 UNION ALL SELECT * FROM tot) u
         |ORDER BY lang""".stripMargin,
    // Same FORCAST integer grid: mono = tokens with ≤ 1 vowel-group
    // run; all divisions integer (// on positives == Spark div).
    "q_readability" ->
      s"""WITH d AS (SELECT lang, $duckToks AS t FROM documents),
         |per AS (SELECT lang, CAST(len(t) AS BIGINT) AS w,
         |    CAST(len(list_filter(t,
         |      x -> len(regexp_extract_all(x, '[aeiouy]+')) <= 1))
         |      AS BIGINT) AS mono
         |  FROM d WHERE len(t) >= 1),
         |g AS (SELECT lang, w, mono,
         |    2000 - (1500 * mono) // w AS gc FROM per)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(gc) // count(*) AS BIGINT) AS avg_grade_centi,
         |  CAST(min(gc) AS BIGINT) AS min_grade_centi,
         |  CAST(max(gc) AS BIGINT) AS max_grade_centi,
         |  CAST(sum(mono) * 1000000 // sum(w) AS BIGINT) AS mono_ppm
         |FROM g GROUP BY lang ORDER BY lang""".stripMargin,
    "q_kl_drift" ->
      s"""WITH w AS (SELECT source, unnest($duckToks) AS word FROM documents),
         |sw AS (SELECT source, word, count(*) AS c_sw FROM w GROUP BY 1, 2),
         |cw AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY word),
         |ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
         |n AS (SELECT CAST(sum(n_s) AS BIGINT) AS big_n FROM ns),
         |qs AS (SELECT source, CAST(sum(c_sw *
         |    (CAST(round(log2(c_sw) * 1000000.0) AS BIGINT)
         |     - CAST(round(log2(c_w) * 1000000.0) AS BIGINT))) AS BIGINT) AS qsum
         |  FROM sw JOIN cw USING (word) GROUP BY source)
         |SELECT qs.source, n_s AS n_tokens,
         |  round(CAST(qsum AS DOUBLE) / (CAST(n_s AS DOUBLE) * 1e6)
         |    - (CAST(round(log2(n_s) * 1000000.0) AS BIGINT)
         |       - CAST(round(log2(big_n) * 1000000.0) AS BIGINT)) / 1e6,
         |    6) AS kl_bits
         |FROM qs JOIN ns USING (source), n ORDER BY source""".stripMargin,
    "q_token_entropy" ->
      s"""WITH w AS (SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |c AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |        count(*) AS n_distinct,
         |        CAST(sum(CAST(round(c * log2(c) * 1000000.0) AS BIGINT))
         |          AS BIGINT) AS qsum
         |      FROM c GROUP BY 1)
         |SELECT doc_id, n, n_distinct,
         |  round(log2(n) - (CAST(qsum AS DOUBLE) / 1000000.0) / n, 4)
         |    AS entropy
         |FROM a ORDER BY doc_id""".stripMargin,
    "q_phrase_search" ->
      s"""WITH d AS (SELECT doc_id, lang, $duckToks AS t FROM documents),
         |h AS (SELECT doc_id, lang,
         |        CAST(len(list_filter(range(1, len(t)),
         |          i -> t[i] = 'fast' AND t[i+1] = 'table')) AS BIGINT)
         |          AS n_hits
         |      FROM d)
         |SELECT doc_id, lang, n_hits FROM h
         |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" -> {
      val aL = cmA.mkString("[", ",", "]")
      val bL = cmB.mkString("[", ",", "]")
      s"""WITH words AS (SELECT unnest($duckToks) AS word FROM documents),
         |counts AS (SELECT word, count(*) AS n FROM words GROUP BY word),
         |slots AS (
         |  SELECT word, n, i,
         |    ((($aL[i+1] * h + $bL[i+1]) % $CmP) % $CmW) AS bucket
         |  FROM (SELECT word, n, ${TextPipeline.duckH32("word")} % $CmP AS h
         |        FROM counts),
         |       (SELECT unnest(range(0, $CmD)) AS i)),
         |counters AS (
         |  SELECT i, bucket, CAST(sum(n) AS BIGINT) AS c
         |  FROM slots GROUP BY i, bucket),
         |top AS (SELECT word FROM counts ORDER BY n DESC, word LIMIT 10)
         |SELECT s.word, s.n, min(c.c) AS cm_est
         |FROM slots s
         |JOIN top t ON s.word = t.word
         |JOIN counters c ON s.i = c.i AND s.bucket = c.bucket
         |GROUP BY s.word, s.n
         |ORDER BY 2 DESC, 1""".stripMargin
    },
    "q_len_histogram" ->
      s"""SELECT lang,
         |${(0 until 8).map(i =>
             if (i < 7) s" sum(CASE WHEN length(t) = ${i + 1} THEN 1 ELSE 0 END)::BIGINT AS h$i"
             else s" sum(CASE WHEN length(t) >= 8 THEN 1 ELSE 0 END)::BIGINT AS h$i")
           .mkString(",\n")}
         |FROM (SELECT lang, unnest($duckToks) AS t FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_token_stats" ->
      s"""SELECT doc_id, lang,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(len($duckToks) AS INT) AS n_tokens,
         | CAST(len(list_distinct($duckToks)) AS INT) AS n_distinct,
         | CAST(list_sum(list_transform($duckToks, x -> length(x))) AS DOUBLE)
         |   / len($duckToks) AS avg_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      s"""SELECT doc_id,
         | CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |   / length(text) AS alpha_ratio,
         | CAST(len(list_filter($duckToks, x -> x IN $duckStop)) AS DOUBLE)
         |   / len($duckToks) AS stopword_ratio,
         | CASE WHEN length(text) < 100 THEN 'short'
         |      WHEN length(text) < 400 THEN 'medium'
         |      ELSE 'long' END AS len_bucket
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_counts" ->
      s"""SELECT doc_id,
         | CAST(len($duckToks) AS INT) AS n_words,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpeish,
         | CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS n_chars_over4
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_bigrams_top" ->
      s"""SELECT bigram, count(*) AS cnt FROM (
         |  SELECT unnest(${TextPipeline.duckBigrams("l")}) AS bigram
         |  FROM (SELECT $duckToks AS l FROM documents))
         |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin,
    "q_bigram_lm" ->
      s"""WITH bg AS (
         |  SELECT doc_id,
         |    unnest(${TextPipeline.duckBigrams("l")})
         |      AS bigram
         |  FROM (SELECT doc_id, $duckToks AS l FROM documents)),
         |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
         |c12 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c12
         |        FROM tf GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
         |         CAST(sum(c12) AS BIGINT) AS c1
         |       FROM c12 GROUP BY 1),
         |j AS (SELECT tf.doc_id, tf.tf,
         |        CAST(round(log2(CAST(c1.c1 AS DOUBLE)) * 1000000.0) AS BIGINT)
         |          - CAST(round(log2(CAST(c12.c12 AS DOUBLE)) * 1000000.0) AS BIGINT)
         |          AS q
         |      FROM tf JOIN c12 USING (bigram)
         |      JOIN c1 ON split_part(tf.bigram, ' ', 1) = c1.w1)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  round((CAST(CAST(sum(tf * q) AS BIGINT) AS DOUBLE) / 1000000.0)
         |    / CAST(sum(tf) AS BIGINT), 4) AS avg_nll
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Identical rank order, adaptive k, and 1e-6 log2 grid; the one
    // division is integer in both engines.
    "q_tail_index" ->
      s"""WITH wc AS (
         |  SELECT w AS word, count(*) AS f
         |  FROM (SELECT unnest($duckToks) AS w FROM documents)
         |  GROUP BY 1),
         |r AS (SELECT word, f,
         |        row_number() OVER (ORDER BY f DESC, word ASC) AS rank
         |      FROM wc),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM wc),
         |kk AS (SELECT n_vocab, least(20, n_vocab - 1) AS k FROM nv),
         |fr AS (SELECT f AS f_ref FROM r, kk WHERE rank = k + 1),
         |d AS (SELECT kk.n_vocab, kk.k, CAST(fr.f_ref AS BIGINT) AS f_ref,
         |        CAST(sum(
         |          CAST(round(log2(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT)
         |          - CAST(round(log2(CAST(f_ref AS DOUBLE)) * 1000000.0)
         |              AS BIGINT)) AS BIGINT) AS denom_micros
         |      FROM r, kk, fr WHERE rank <= k
         |      GROUP BY 1, 2, 3)
         |SELECT n_vocab, k, f_ref, denom_micros,
         |  CASE WHEN denom_micros > 0
         |       THEN k * 1000000000000 // denom_micros ELSE NULL END
         |    AS alpha_log2_micros
         |FROM d""".stripMargin,
    // Identical LM grid as q_bigram_lm; rank window + n DIV 10 cut.
    "q_perplexity_filter" ->
      s"""WITH bg AS (
         |  SELECT doc_id,
         |    unnest(${TextPipeline.duckBigrams("l")})
         |      AS bigram
         |  FROM (SELECT doc_id, $duckToks AS l FROM documents)),
         |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
         |c12 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c12
         |        FROM tf GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
         |         CAST(sum(c12) AS BIGINT) AS c1
         |       FROM c12 GROUP BY 1),
         |j AS (SELECT tf.doc_id, tf.tf,
         |        CAST(round(log2(CAST(c1.c1 AS DOUBLE)) * 1000000.0) AS BIGINT)
         |          - CAST(round(log2(CAST(c12.c12 AS DOUBLE)) * 1000000.0) AS BIGINT)
         |          AS q
         |      FROM tf JOIN c12 USING (bigram)
         |      JOIN c1 ON split_part(tf.bigram, ' ', 1) = c1.w1),
         |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |        CAST(sum(tf * q) AS BIGINT) // CAST(sum(tf) AS BIGINT)
         |          AS score_micros
         |       FROM j GROUP BY doc_id),
         |r AS (SELECT d.lang, sc.doc_id, sc.n_bigrams, sc.score_micros,
         |        row_number() OVER (PARTITION BY d.lang
         |          ORDER BY sc.score_micros DESC, sc.doc_id ASC) AS rn,
         |        count(*) OVER (PARTITION BY d.lang) AS n
         |      FROM sc JOIN documents d USING (doc_id))
         |SELECT lang, doc_id, n_bigrams, score_micros,
         |  CAST(rn AS INT) AS ppl_rank
         |FROM r WHERE rn <= n // 10 ORDER BY lang, ppl_rank""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id, lang,
         | CASE WHEN CAST(len(list_filter($duckToks, x -> x IN $duckStop)) AS DOUBLE)
         |           / len($duckToks) > 0.05
         |      THEN 'en' ELSE 'unk' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_tfidf_top" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, word, tf, df, tfidf, CAST(rnk AS INT) AS rnk FROM (
         |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         |    CAST(tf.tf AS DOUBLE) * ((n.n + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) AS tfidf,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |                       ORDER BY CAST(tf.tf AS DOUBLE) * ((n.n + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) DESC,
         |                                tf.word ASC) AS rnk
         |  FROM tf JOIN df USING (word), n)
         |WHERE rnk <= 5 ORDER BY doc_id, rnk, word""".stripMargin,
    "q_doc_similarity" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest($duckToks) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
         |n AS (SELECT count(*) AS n FROM documents),
         |top5 AS (
         |  SELECT doc_id, word FROM (
         |    SELECT tf.doc_id, tf.word,
         |      row_number() OVER (PARTITION BY tf.doc_id
         |        ORDER BY CAST(tf.tf AS DOUBLE) * ((n.n + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) DESC,
         |                 tf.word ASC) AS rnk
         |    FROM tf JOIN df USING (word), n) WHERE rnk <= 5),
         |sets AS (
         |  SELECT doc_id, list_sort(list(word)) AS terms, count(*) AS k
         |  FROM top5 GROUP BY doc_id HAVING count(*) >= 4),
         |pref AS (
         |  SELECT doc_id, word FROM (
         |    SELECT t.doc_id, t.word, s.k,
         |      row_number() OVER (PARTITION BY t.doc_id
         |        ORDER BY df.df ASC, t.word ASC) AS rn
         |    FROM top5 t JOIN df USING (word) JOIN sets s USING (doc_id))
         |  WHERE rn <= k - 3),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b ON a.word = b.word AND a.doc_id < b.doc_id),
         |ver AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(len(list_intersect(sa.terms, sb.terms)) AS BIGINT) AS shared,
         |    sa.k AS ka, sb.k AS kb
         |  FROM cand c JOIN sets sa ON c.a_id = sa.doc_id
         |              JOIN sets sb ON c.b_id = sb.doc_id)
         |SELECT a_id, b_id, shared,
         |  round(CAST(shared AS DOUBLE) / (ka + kb - shared), 6) AS salient_jaccard
         |FROM ver WHERE shared >= 4 ORDER BY a_id, b_id""".stripMargin,
    "q_oov_rate" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest($duckToks) AS w FROM documents),
         |vocab AS (
         |  SELECT w FROM (
         |    SELECT w, count(*) AS c FROM words GROUP BY w
         |    ORDER BY c DESC, w LIMIT 16))
         |SELECT words.doc_id,
         |  count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS oov_rate
         |FROM words LEFT JOIN vocab ON words.w = vocab.w
         |GROUP BY words.doc_id ORDER BY words.doc_id""".stripMargin,
    "q_trigram_novelty" ->
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, unnest(tri) AS t
         |  FROM (SELECT doc_id, ${TextPipeline.duckTrigrams(s"($duckToks)")} AS tri
         |        FROM documents)),
         |owner AS (SELECT t, min(doc_id) AS first_doc FROM dt GROUP BY t)
         |SELECT doc_id, count(*) AS n_tri,
         |  CAST(count(*) FILTER (WHERE first_doc = doc_id) AS BIGINT) AS n_novel,
         |  round(CAST(count(*) FILTER (WHERE first_doc = doc_id) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM dt JOIN owner USING (t)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      s"""SELECT doc_id,
         |  CAST(len(tri) AS INT) AS n_trigrams,
         |  CAST(len(list_distinct(tri)) AS INT) AS n_distinct,
         |  CASE WHEN len(tri) > 0
         |       THEN round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6)
         |       ELSE 0.0 END AS rep_ratio
         |FROM (SELECT doc_id, ${TextPipeline.duckTrigrams(s"($duckToks)")} AS tri
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q_cooccur_lift" ->
      s"""WITH dw AS (
         |  SELECT DISTINCT doc_id, word FROM (
         |    SELECT doc_id, unnest($duckToks) AS word FROM documents)
         |  WHERE word NOT IN $duckStop),
         |cw AS (SELECT word, count(*) AS c FROM dw GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.word AS wa, b.word AS wb, count(*) AS c_ab
         |  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
         |  GROUP BY a.word, b.word HAVING count(*) >= 5)
         |SELECT wa, wb, c_ab, ca.c AS c_a, cb.c AS c_b,
         |  round(CAST(c_ab * n.n_docs AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift
         |FROM pairs JOIN cw ca ON pairs.wa = ca.word
         |           JOIN cw cb ON pairs.wb = cb.word, n
         |ORDER BY lift DESC, wa, wb LIMIT 50""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, md5(list_aggr($duckToks, 'string_agg', ' ')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint_winnow" ->
      s"""WITH d AS (SELECT doc_id, $duckToks AS w FROM documents),
         |g AS (SELECT doc_id,
         |        list_transform(${TextPipeline.duckTrigrams("w")},
         |          t -> ${TextPipeline.duckH32("t")}) AS hs
         |      FROM d),
         |win AS (SELECT doc_id, list_distinct(
         |          list_transform(range(1, greatest(len(hs) - ${WinnowW - 1}, 1) + 1),
         |            i -> list_min(list_slice(hs, i, i + ${WinnowW - 1})))) AS fps
         |        FROM g WHERE len(hs) >= 1)
         |SELECT doc_id, unnest(fps) AS fingerprint FROM win
         |ORDER BY doc_id, fingerprint""".stripMargin,
  )
}
