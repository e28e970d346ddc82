package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Similarity, TextAnalysis}

/** M4 invariants that the DuckDB oracle can't express: cross-query
  * consistency between the approximate structures (MinHash/LSH, SimHash,
  * ANN) and their exact counterparts. */
class DedupSimilaritySpec extends SparkSpec {

  test("exact dedup: every doc maps to a canonical id <= itself; canonicals are not dups") {
    val rows = Dedup.qDedupExact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, canon, isDup) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_dup"))
      assert(canon <= id)
      assert(isDup == (id != canon))
    }
  }

  test("minhash signature slots are in [0, P] and vary across docs") {
    val df = Dedup.qMinhashSignature(spark, sf)
    val cols = df.columns.filter(_.startsWith("m"))
    val agg = df.agg(
      min(least(cols.map(col): _*)).as("lo"),
      max(greatest(cols.map(col): _*)).as("hi"),
      countDistinct(col(cols.head)).as("nd")).collect()(0)
    assert(agg.getAs[Long]("lo") >= 0L)
    assert(agg.getAs[Long]("hi") <= 1000000007L)
    assert(agg.getAs[Long]("nd") > 100, "first minhash slot should be well spread")
  }

  test("prefix-filtered Jaccard verifier returns exactly the inverted-index count's pairs") {
    // sf0.01 so near-dup pairs actually exist (sf0.001 may have none)
    val d = "/root/testdata/sf0.01"
    val count = Dedup.qNgramJaccard(spark, d).collect().map(_.toString).toSeq
    val prefix = Dedup.qNgramJaccardPrefix(spark, d).collect().map(_.toString).toSeq
    assert(count.nonEmpty, "fixture should contain near-dup pairs")
    assert(count == prefix, "prefix filtering must change the plan, never the answer")
  }

  /** Hot-shingle corpus as `<dir>/documents.parquet`: a shared 7-word
    * header, then a letters-only tail unique to the document; every 10th
    * doc clones its predecessor's tail but for the last 2 words (jaccard
    * ≈ 0.8), all other pairs share only the header (jaccard 5/55). */
  private def writeHotShingleCorpus(nDocs: Int, dir: String): String = {
    import spark.implicits._
    def b26(i: Int): String = {
      var n = i; val sb = new StringBuilder
      do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
      sb.result()
    }
    def tail(doc: Int): IndexedSeq[String] =
      (0 until 25).map(k => s"q${b26(doc)}z${b26(k)}")
    val rows = (0 until nDocs).map { i =>
      val t =
        if (i % 10 == 9) tail(i - 1).dropRight(2) ++ Seq(s"r${b26(i)}za", s"r${b26(i)}zb")
        else tail(i)
      val text = "the quick brown fox jumps over lazy " + t.mkString(" ")
      (i.toLong, text, "en", "hotshingle", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("hot-shingle corpus: prefix plan drops boilerplate trigrams yet stays answer-exact") {
    // the corpus class the prefix plan exists for: 5 trigrams with
    // df = nDocs (boilerplate header) that the rarest-first ranking pushes
    // beyond every prefix. Measured at 4000 docs (SURVEY.md §8.8): postings
    // 14.0 s vs prefix 1.7 s — this pins the completeness half (identical
    // answers) and the drop-out mechanism itself on a 400-doc corpus
    val dir = writeHotShingleCorpus(400,
      tempDir("hotshingle"))
    val viaCount = Dedup.qNgramJaccard(spark, dir).collect().map(_.toString).toSeq
    val viaPrefix = Dedup.qNgramJaccardPrefix(spark, dir).collect().map(_.toString).toSeq
    assert(viaCount.length == 40, s"expected the 40 clone pairs, got ${viaCount.length}")
    assert(viaCount == viaPrefix, "prefix filtering must change the plan, never the answer")
    // drop-out: no boilerplate trigram survives into any prefix, so the
    // candidate join never touches a df=nDocs posting list
    import org.apache.spark.sql.functions._
    val post = graft.io.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.core.TextPipeline.normalizedTokens(col("text")).as("w"))
      .select(col("doc_id"), explode(graft.core.TextPipeline.shinglesOf(col("w"))).as("s"))
    val hot = post.groupBy(col("s")).count().filter(col("count") === 400)
    assert(hot.count() == 5, "corpus must contain exactly the 5 boilerplate trigrams")
    // recompute the rarest-first prefix (same math as qNgramJaccardPrefix:
    // rank by (df, shingle), keep n − ⌈0.2n⌉ + 1) and assert no df=400
    // trigram survives into ANY document's prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val n = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val kept = post
      .join(post.groupBy(col("s")).agg(count(lit(1)).as("df")), "s")
      .join(n, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(col("n") * 0.2) + 1)
    assert(kept.filter(col("df") === 400).count() == 0,
      "a df=nDocs boilerplate trigram must never enter a prefix")
  }

  test("ngram-jaccard postings self-join reuses one exchange (pipeline runs once)") {
    val df = Dedup.qNgramJaccard(spark, "/root/testdata/sf0.01")
    df.collect() // AQE finalizes the plan only on execution of THIS QueryExecution
    // Final-plan section ONLY: AdaptiveSparkPlan.toString also prints the
    // pre-adaptive "Initial Plan", whose scan nodes would double-count here.
    val executed = org.apache.spark.sql.graftbridge.Bridge.finalPlanString(df)
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"expected the self-join sides to share one shuffle, plan:\n$executed")
    // the scan feeding the shared exchange must appear exactly once
    assert("documents\\.parquet".r.findAllIn(executed).size <= 1,
      "tokenize/shingle pipeline should be evaluated by a single scan branch")
  }

  test("LSH candidates contain the high-jaccard near-dup pairs (recall at j>=0.8)") {
    val exact = Dedup.qNgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.qDedupMinhash(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain at least one true near-dup pair")
    assert(exact.subsetOf(lsh),
      s"high-jaccard pairs ${exact -- lsh} missed by LSH (b=8, r=4 ⇒ ~certain at j≥0.8)")
  }

  test("dedup eval: confusion counts internally consistent; recall above the band-collision floor") {
    val r = Dedup.qDedupEval(spark, sf).collect()(0)
    val (tp, fp, fn) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(r.getLong(0) == 500000L)
    assert(tp > 0L, "the fixture's planted clones must produce true positives")
    assert(r.getLong(4) == tp * 1000000L / (tp + fp))
    assert(r.getLong(5) == tp * 1000000L / (tp + fn))
    // b=8 bands of r=4 ⇒ collision ≥ 1−(1−0.5⁴)⁸ ≈ 0.40 AT the 0.5
    // boundary, and near 1 for the clone mass at j≥0.8 — the aggregate
    // recall must clear the boundary floor
    assert(r.getLong(5) >= 400000L, s"recall ${r.getLong(5)} below LSH floor")
    // every pair q_dedup_minhash ships (est ≥ 0.5) is by construction a
    // candidate here, so the candidate count bounds it
    val shipped = Dedup.qDedupMinhash(spark, sf).count()
    assert(tp + fp >= shipped)
  }

  test("simhash: near-dup docs are closer in hamming distance than a random pair") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val sims = Dedup.qDedupSimhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val nearDup = Dedup.qNgramJaccard(spark, sf)
      .orderBy(col("jaccard").desc).limit(1).collect()(0)
    val (a, b) = (nearDup.getAs[Long]("a_id"), nearDup.getAs[Long]("b_id"))
    val near = hamming(sims(a), sims(b))
    // median hamming over a fixed sample of unrelated pairs
    val ids = sims.keys.toSeq.sorted.take(40)
    val far = ids.zip(ids.reverse).filter { case (x, y) => x < y }
      .map { case (x, y) => hamming(sims(x), sims(y)) }.sorted
    assert(near < far(far.size / 2),
      s"near-dup hamming $near should beat median unrelated hamming ${far(far.size / 2)}")
  }

  test("ANN: exact brute-force top-1 dominates LSH and IVF top-1 per query") {
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.filter(col("rank") === 1).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cosine")).toMap
    val bf = top1(Similarity.qAnnBruteforce(spark, sf))
    val lsh = top1(Similarity.qAnnLsh(spark, sf))
    val ivf = top1(Similarity.qAnnIvf(spark, sf))
    assert(bf.size == 10)
    lsh.foreach { case (q, c) => assert(bf(q) >= c - 1e-9, s"LSH beat exact for q=$q") }
    ivf.foreach { case (q, c) => assert(bf(q) >= c - 1e-9, s"IVF beat exact for q=$q") }
    // approximate structures should still find *something* for most queries
    assert(ivf.size == 10, "IVF probes 2 cells — every query has candidates")
  }

  test("PQ shortlist+rerank recall@10 holds vs exact brute force; cosines are exact") {
    def byQ(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view
        .mapValues(_.map(r => r.getAs[Long]("neighbor_id") ->
          r.getAs[Double]("cosine")).toMap).toMap
    val bf = byQ(Similarity.qAnnBruteforce(spark, sf).collect())
    val pqRows = Similarity.qAnnPq(spark, sf).collect()
    val pq = byQ(pqRows)
    assert(bf.size == 10 && pq.size == 10)
    pqRows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10),
        s"q=$q ranks not dense")
    }
    // the re-rank runs the same fused cosine kernel on the same raw
    // vectors as brute force: any neighbor PQ and BF share must carry the
    // IDENTICAL rounded cosine
    pq.foreach { case (q, ns) =>
      ns.foreach { case (n, c) =>
        bf(q).get(n).foreach(cBf => assert(cBf == c,
          s"q=$q n=$n cosine drift pq=$c bf=$cBf"))
      }
    }
    val recalls = bf.keys.toSeq.sorted
      .map(q => (bf(q).keySet & pq(q).keySet).size / 10.0)
    val mean = recalls.sum / recalls.size
    // measured 0.94 at sf0.001 (per-q min 0.8) on a corpus whose true-
    // neighbor margins are thin (top-1 cosine ≈ 0.33 vs p99 ≈ 0.30);
    // pinned with headroom — a metric or codebook regression (e.g. the
    // unnormalized-ADC bug, which measured 0.18) lands far below
    assert(mean >= 0.85, f"PQ mean recall@10 $mean%.2f (per-q: ${recalls.mkString(",")})")

    // the OTHER train-gate branch: force 10%-sample training (sf0.001's
    // 500 vectors sit under PqTrainMin, so the default runs full-corpus
    // training — trainMin=1 flips the gate). 50 training vectors for
    // 256 codewords is a deliberately degenerate codebook; the re-rank
    // stage must still produce dense ranks, exact cosines, and usable
    // recall — the two-stage design's whole point
    val pqS = byQ(Similarity.qAnnPqImpl(spark, sf, trainMin = 1L).collect())
    assert(pqS.size == 10)
    pqS.foreach { case (q, ns) =>
      ns.foreach { case (n, c) =>
        bf(q).get(n).foreach(cBf => assert(cBf == c,
          s"sampled-train q=$q n=$n cosine drift"))
      }
    }
    val meanS = bf.keys.toSeq.sorted
      .map(q => (bf(q).keySet & pqS(q).keySet).size / 10.0).sum / 10
    assert(meanS >= 0.5,
      f"sampled-train PQ mean recall@10 $meanS%.2f — rerank should keep this usable")
  }

  test("IVFADC (q_ann_ivfpq): dense ranks, exact cosines, recall vs brute force, both train branches") {
    def byQ(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view
        .mapValues(_.map(r => r.getAs[Long]("neighbor_id") ->
          r.getAs[Double]("cosine")).toMap).toMap
    val bf = byQ(Similarity.qAnnBruteforce(spark, sf).collect())
    val rows = Similarity.qAnnIvfPq(spark, sf).collect()
    val ix = byQ(rows)
    assert(bf.size == 10 && ix.size == 10,
      "nprobe=2 of 8 cells must yield candidates for every query")
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"q=$q ranks not dense: $ranks")
    }
    // the re-rank is the same fused cosine kernel on the same raw vectors
    // as brute force — shared neighbors must carry IDENTICAL cosines
    ix.foreach { case (q, ns) =>
      ns.foreach { case (n, c) =>
        bf(q).get(n).foreach(cBf => assert(cBf == c,
          s"q=$q n=$n cosine drift ivfpq=$c bf=$cBf"))
      }
    }
    // cell pruning caps recall at the IVF rung's coverage (the true
    // neighbor must live in a probed cell AND survive the ADC shortlist);
    // floor sits under the measured value with headroom, far above a
    // broken-quantizer baseline
    val recalls = bf.keys.toSeq.sorted
      .map(q => (bf(q).keySet & ix.getOrElse(q, Map.empty).keySet).size / 10.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, f"IVFADC mean recall@10 $mean%.2f (per-q: ${recalls.mkString(",")})")
    // forced 10%-sample training (the other count-gate branch): still
    // dense ranks + exact cosines — the two-stage rerank keeps degenerate
    // codebooks usable, same contract as qAnnPqImpl's spec
    val ixS = byQ(Similarity.qAnnIvfPqImpl(spark, sf, trainMin = 1L).collect())
    assert(ixS.size == 10)
    ixS.foreach { case (q, ns) =>
      ns.foreach { case (n, c) =>
        bf(q).get(n).foreach(cBf => assert(cBf == c,
          s"sampled-train q=$q n=$n cosine drift"))
      }
    }
  }

  test("winnowed fingerprints equal a local recompute of the full pipeline") {
    // Full independent recompute of the winnowing pipeline (tokenize →
    // trigram → h32 → window minima → distinct) on all 500 sf0.001 docs —
    // pins tokenizer parity, the h32 hash, 1-based slice arithmetic, and
    // the short-doc (n_grams < W) single-window fallback in one shot.
    def h32local(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val W = 4
    def localFps(text: String): Set[Long] = {
      val w = Option(text).toIndexedSeq.flatMap(_.split(" ", -1))
        .map(_.replaceAll("[^a-zA-Z]", "").toLowerCase).filter(_.nonEmpty)
      val g = w.sliding(3).filter(_.length == 3).map(_.mkString(" "))
        .map(h32local).toVector
      if (g.isEmpty) Set.empty
      else (1 to math.max(g.length - (W - 1), 1))
        .map(i => g.slice(i - 1, i - 1 + W).min).toSet
    }
    def checkAll(dir: String): Unit = {
      val texts = graft.io.Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // both spellings: the batch window and the streaming row-local
      for ((face, fps) <- Seq(
          "batch" -> TextAnalysis.qFingerprintWinnow(spark, dir),
          "stream" -> graft.streaming.Windows.winnowFingerprints(
            graft.io.Tables.documents(spark, dir)))) {
        val got = fps.select("doc_id", "fingerprint").collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap
        texts.foreach { case (id, text) =>
          assert(got.getOrElse(id, Set.empty[Long]) == localFps(text),
            s"$face winnow mismatch for doc $id in $dir")
        }
      }
    }
    checkAll(sf)
    // engineered edge inputs: no trigram at all (NULL, empty,
    // whitespace-only, punctuation-only, 2 tokens), one trigram (< W),
    // exactly W and W+1 trigrams (the window-start boundary), and one
    // ~20k-token document (the O(n²) trap would show as a timeout)
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps,", "Zeta!", "eta",
      "THETA", "iota", "kappa", "lambda", "mu")
    val huge = Seq.fill(20000)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val edge = Seq(
      1L -> null, 2L -> "", 3L -> "  \t  \n ", 4L -> "!!! ... ,,; ?",
      5L -> "two tokens", 6L -> "one trigram here",
      7L -> (1 to W + 2).map(i => s"w${"x" * i}").mkString(" "),
      8L -> (1 to W + 3).map(i => s"w${"y" * i}").mkString(" "),
      9L -> huge)
    val dir = tempDir("winnowedge")
    edge.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    checkAll(dir)
    // (Exact-clone set equality is implied: identical normalized token
    // streams recompute to identical localFps, and every doc just matched
    // its recompute. sf0.001's 500 docs plant no doc%512==511 exact clone,
    // so a direct qDedupExact cross-check would be vacuous here.)
  }

  test("winnow: the trigram hashes are derived once per document in both spellings") {
    // row-local: the selection lambda reads the hash array through a
    // column; inlined, the trigram→h32 pipeline would appear (and run) once
    // more inside it. Window: only the posexplode may reference it.
    for (df <- Seq(TextAnalysis.qFingerprintWinnow(spark, sf),
        graft.streaming.Windows.winnowFingerprints(
          graft.io.Tables.documents(spark, sf)))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert("h32\\(".r.findAllMatchIn(plan).size == 1, plan)
    }
  }

  test("winnow pair candidates verify to a subset of the exact jaccard pairs; clones are caught") {
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val exact = pairs(Dedup.qNgramJaccard(spark, sf))
    val win = pairs(Dedup.qDedupWinnow(spark, sf))
    assert(win.nonEmpty, "winnow found no pairs on a fixture with planted near-clones")
    // identical jaccard for every reported pair (same exact verifier)
    win.foreach { case (p, j) =>
      assert(exact.get(p).contains(j), s"pair $p winnow=$j exact=${exact.get(p)}")
    }
    // the winnowing guarantee: a pair sharing a run of >= W+2 words shares
    // a fingerprint. The fixture's planted clones (near: last 2 words
    // replaced; exact: doc%512) share long prefixes, so every
    // high-jaccard exact pair must be recalled by the sketch
    val high = exact.filter(_._2 >= 0.8).keySet
    val missed = high -- win.keySet
    assert(missed.isEmpty, s"winnow missed high-jaccard clone pairs: $missed")
  }

  test("components: star contraction is exact on a 14-node chain") {
    import spark.implicits._
    // diameter 13 — the shape that breaks fixed-round label propagation
    // (one round per hop); star contraction must halve it each iteration
    // and the fixpoint loop must run until truly converged
    val chain = (0L until 13L).map(i => (i, i + 1)) :+ (100L, 101L)
    val labels = Dedup.components(chain.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 13L).foreach(i => assert(labels(i) == 0L, s"node $i got ${labels(i)}"))
    assert(labels(100L) == 100L && labels(101L) == 100L)
  }

  test("components frees superseded checkpoint blocks (bounded persisted-RDD growth)") {
    import spark.implicits._
    // Non-vacuity probe first: prove getPersistentRDDs tracks eager
    // localCheckpoints and that Bridge.freeLocalCheckpoint releases them.
    // (Holding the reference here keeps the ContextCleaner out of the
    // picture — unlike components' internals, which become unreachable
    // the moment it returns and may be GC-unpersisted asynchronously.)
    val probeBefore = spark.sparkContext.getPersistentRDDs.size
    val probe = Seq((1L, 2L)).toDF("src", "dst").localCheckpoint(true)
    assert(spark.sparkContext.getPersistentRDDs.size == probeBefore + 1,
      "localCheckpoint(true) must appear in getPersistentRDDs")
    org.apache.spark.sql.graftbridge.Bridge.freeLocalCheckpoint(probe)
    assert(spark.sparkContext.getPersistentRDDs.size == probeBefore,
      "freeLocalCheckpoint must release the persisted blocks")

    // a 14-node chain needs ~4 contraction rounds = ~9 localCheckpoints;
    // without per-round freeing they ALL stay persisted (the executor
    // memory leak the sf1 decade surfaced). Live set after the run must
    // be bounded by the algorithm's state (canon0 + final canon ≤ 3),
    // not its iteration count. No lower bound: once components returns,
    // its checkpoints are unreachable and the async ContextCleaner may
    // legitimately have unpersisted them already (observed under
    // full-suite GC pressure).
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 13L).map(i => (i, i + 1))
    Dedup.components(chain.toDF("src", "dst")).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 3,
      s"components left $leaked persisted RDDs behind; superseded " +
        "checkpoints must be freed each round, the live state kept")
  }

  test("components equals union-find closure on random graphs") {
    import spark.implicits._
    val r = new scala.util.Random(13)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val root = find(p); parent(x) = root; root }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.components(edges.toDF("src", "dst"))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("dedup clusters equal a brute-force closure of the near-dup pairs") {
    val d = "/root/testdata/sf0.01" // sf0.001 may have no near-dup pairs
    val pairs = Dedup.qDedupMinhash(spark, d)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.nonEmpty)
    // union-find over the collected pairs (tiny) = ground-truth closure
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.qDedupClusters(spark, d)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == want, s"diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }

  test("int8 quantization reconstructs every coordinate within half a step") {
    // recompute the codes locally per vector and bound the midpoint-dequant
    // error by range/512 — the property that makes 1-byte codes usable for
    // coarse ANN scoring before a full-precision rerank
    val rows = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
    val q = Similarity.qEmbedQuantize(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val (vmin, vmax) = (v.min, v.max)
      val range = vmax - vmin
      val codes =
        if (range == 0) v.map(_ => 0L)
        else v.map(x => math.min(255L, math.floor((x - vmin) / range * 256).toLong))
      val (nDims, codeSum) = q(r.getLong(0))
      assert(nDims == v.length && codeSum == codes.sum,
        s"vec ${r.getLong(0)}: local recompute disagrees with the query")
      if (range > 0) {
        val maxErr = v.zip(codes).map { case (x, c) =>
          math.abs(x - (vmin + (c + 0.5) * range / 256))
        }.max
        assert(maxErr <= range / 512 + 1e-12,
          s"vec ${r.getLong(0)}: reconstruction error $maxErr > ${range / 512}")
      }
    }
  }

  test("learned k-means IVF holds recall@10 vs exact brute force") {
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val bf = topk(Similarity.qAnnBruteforce(spark, sf))
    val ivf = topk(Similarity.qAnnIvf(spark, sf))
    assert(bf.size == 10)
    val recalls = bf.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty[Long]).intersect(truth).size / 10.0 }
    val mean = recalls.sum / recalls.size
    // nprobe=2 of 8 learned cells touches ~25% of the corpus; measured
    // mean recall ~0.48 on this fixture — pin a floor with headroom so a
    // broken quantizer (recall ≈ coverage-free baseline) fails loudly
    assert(mean >= 0.4, f"learned-IVF mean recall@10 $mean%.2f below 0.4 floor")
  }

  test("simhash band join equals all-pairs hamming and genuinely prunes") {
    import spark.implicits._
    // brute force over the same simhashes, computed independently here
    val sims = Dedup.qDedupSimhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash")))
    val want = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 3
    } yield (a, b, hd)).toSet
    val got = Dedup.qSimhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, "band join must match brute-force hamming pairs")
    assert(got.nonEmpty, "fixture near-dups should land within hamming 3")
    // pruning: candidate pairs (≥1 equal 8-bit band) are a small fraction
    // of all N² pairs — the property that makes the plan scale
    val n = sims.length.toLong
    val candidates = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      if (0 until 4).exists(k => ((sa >> (8 * k)) & 255L) == ((sb >> (8 * k)) & 255L))
    } yield 1).size.toLong
    // random 32-bit keys would give ~4/256 ≈ 1.6% survivors; real simhash
    // bits are correlated (shared vocabulary skews every bit the same
    // way), so this fixture keeps ~21%. Pin the order-of-magnitude
    // property (most pairs never reach verification), not the iid bound.
    val total = n * (n - 1) / 2
    assert(candidates * 10 < total * 3,
      s"banding should prune >70%: $candidates of $total survive")
  }

  test("latest-wins dedup keeps exactly the max-(ts, event_id) row per user") {
    import graft.io.Tables
    val rows = Dedup.qDedupLatest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (u, es) => u -> es.maxBy(e => (e._3, e._2))._2 }
    assert(rows == want)
  }

  test("decontamination reports only train docs with bounded overlap") {
    val split = graft.queries.Corpus.qTrainSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val got = graft.queries.Corpus.qDecontaminate(spark, sf).collect()
    assert(got.nonEmpty, "fixture should contain at least one contaminated doc")
    got.foreach { r =>
      val (id, nSh, nOv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(split(id) == "train", s"non-train doc $id reported")
      assert(nOv >= 1 && nOv <= nSh, s"overlap out of bounds: $r")
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0)
    }
  }

  test("containment catches the asymmetric subset-dup that jaccard misses; ratios are consistent") {
    val d = "/root/testdata/sf0.01" // sf0.001 has only symmetric clone pairs
    val cont = Dedup.qDedupContainment(spark, d).collect()
    assert(cont.nonEmpty, "fixture should contain containment pairs")
    cont.foreach { r =>
      val (c, j) = (r.getDouble(2), r.getDouble(3))
      assert(c > 0.0 && c <= 1.0, s"containment out of range: $r")
      // containment normalizes by min(|A|,|B|) <= |A∪B|, so it dominates
      assert(c >= j, s"containment must dominate jaccard: $r")
    }
    // non-vacuity vs the jaccard rung: at least one pair passes the
    // containment gate while sitting BELOW the jaccard gate (the quoted-
    // block / doc-inside-doc case this query exists for)
    assert(cont.exists(r => r.getDouble(3) < 0.2),
      "expected an asymmetric pair invisible to the jaccard-gated rung")
    // every jaccard-rung pair with jaccard >= ContainT is also caught
    // (containment >= jaccard), so the clone pairs all appear here
    val contPairs = cont.map(r => (r.getLong(0), r.getLong(1))).toSet
    val clonePairs = Dedup.qDedupWinnow(spark, d).collect()
      .filter(_.getDouble(2) >= 0.25).map(r => (r.getLong(0), r.getLong(1)))
    assert(clonePairs.nonEmpty && clonePairs.forall(contPairs),
      "clone pairs above the containment threshold must be reported")
  }

  test("incremental dedup classifies winnow pairs by index/batch parity and skips index-internal") {
    val d = "/root/testdata/sf0.01"
    val inc = Dedup.qDedupIncremental(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(inc.nonEmpty)
    inc.foreach { case (newId, dupOf, kind, _) =>
      assert(newId % 2 == 1, s"reported duplicate $newId is not in the incoming batch")
      kind match {
        case "index" => assert(dupOf % 2 == 0, s"index dup_of $dupOf is odd")
        case "batch" => assert(dupOf % 2 == 1 && dupOf < newId,
          s"batch pair must keep the earlier id: $newId vs $dupOf")
        case k => fail(s"unknown kind $k")
      }
    }
    // exactly the full-corpus winnow pairs, minus index-internal ones,
    // re-keyed to (duplicate, kept)
    val winnow = Dedup.qDedupWinnow(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = winnow.filter { case (a, b, _) => a % 2 == 1 || b % 2 == 1 }
      .map { case (a, b, j) =>
        if (a % 2 == 1 && b % 2 == 1) (b, a, "batch", j)
        else if (a % 2 == 1) (a, b, "index", j)
        else (b, a, "index", j)
      }.toSet
    assert(inc.toSet == expected, "incremental output != re-keyed winnow pairs")
    assert(winnow.exists { case (a, b, _) => a % 2 == 0 && b % 2 == 0 },
      "fixture should contain an index-internal pair that gets skipped")
  }

  test("survivors keep exactly one max-token member per cluster plus all unclustered docs") {
    val d = "/root/testdata/sf0.01"
    val surv = Dedup.qDedupSurvivors(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    // independent recompute from the oracle-verified cluster labeling
    val counted = graft.io.Tables.documents(spark, d)
      .select(col("doc_id"), size(graft.core.TextPipeline.normalizedTokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val clusters = Dedup.qDedupClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byCluster.nonEmpty, "fixture should contain near-dup clusters")
    val reps = byCluster.values.map(ms => ms.maxBy(id => (counted(id), -id))).toSet
    val losers = clusters.map(_._1).toSet -- reps
    val expected = counted.keySet -- losers
    assert(surv.map(_._1).toSet == expected, "survivor id set mismatch")
    surv.foreach { case (id, n, status) =>
      assert(n == counted(id), s"token count mismatch for $id")
      assert(status == (if (reps(id)) "rep" else "unique"), s"status mismatch for $id")
    }
    assert(surv.count(_._3 == "rep") == byCluster.size,
      "exactly one representative per cluster")
  }

  test("filtered ANN respects the label predicate and actually changes the answer") {
    val labels = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val filtered = Similarity.qAnnFiltered(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(filtered.nonEmpty)
    // every returned neighbor matches the query's own label (pre-filter
    // semantics), ranks dense 1..k per query
    filtered.foreach { case (q, _, n, _) =>
      assert(labels(n) == labels(q), s"neighbor $n label != query $q label")
    }
    filtered.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"ranks not dense for $q")
    }
    // the predicate must BITE: the unfiltered brute-force top-10 of at
    // least one query contains a cross-label neighbor, so filtering is
    // not vacuously equal to q_ann_bruteforce
    val unfiltered = Similarity.qAnnBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(unfiltered.exists { case (q, n) => labels(n) != labels(q) },
      "fixture should have cross-label neighbors in the unfiltered top-k")
    // restricting the candidate set can never improve the best cosine
    val bestF = filtered.filter(_._2 == 1).map(r => r._1 -> r._4).toMap
    val bestU = Similarity.qAnnBruteforce(spark, sf).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    bestF.foreach { case (q, c) =>
      assert(c <= bestU(q) + 1e-9, s"filtered top-1 beats unfiltered for $q")
    }
  }

  test("ANN results are top-k ranked with dense ranks starting at 1") {
    val rows = Similarity.qAnnBruteforce(spark, sf)
      .groupBy("q_id").agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == 10 && r.getAs[Int]("lo") == 1 && r.getAs[Int]("hi") == 10)
    }
  }

  test("dedup spans: exact boundaries, split spans, sub-threshold absence") {
    import spark.implicits._
    def sent(ws: String*) = ws.mkString(" ")
    val filler = (1 to 30).map(i => s"pad${('a' + i % 26).toChar}$i")
    val shared = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "the", "lazy", "dog", "again", "tonight") // 11 words → 7 grams
    val shared2 = Seq("four", "score", "and", "seven", "years",
      "ago", "our", "fathers", "brought") // 9 words → 5 grams
    val short = Seq("just", "six", "words", "here", "no", "more") // 6 → 2 grams < MinRun
    // doc 1: shared at word 0, shared2 at word 17; doc 2: shared at word 5,
    // shared2 at word 22 (different offsets → two separate islands)
    val d1 = sent((shared ++ filler.slice(0, 6) ++ shared2 ++ filler.slice(6, 12)): _*)
    val d2 = sent((filler.slice(12, 17) ++ shared ++ filler.slice(17, 23) ++ shared2 ++ filler.slice(23, 28)): _*)
    val d3 = sent((filler.slice(0, 10) ++ short ++ filler.slice(10, 14)): _*)
    val d4 = sent((filler.slice(14, 24) ++ short ++ filler.slice(24, 28)): _*)
    val docs = Seq((1L, d1, "en"), (2L, d2, "en"), (3L, d3, "en"), (4L, d4, "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.dedupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    // doc1/doc2: shared 11-word span at (0, 5); shared2 9-word span at (17, 22).
    // doc3/doc4's 6-word overlap yields only 2 grams — below MinRun, absent.
    // The two filler segments between docs 1 and 2 never align.
    assert(got == Set((1L, 2L, 0, 5, 11L), (1L, 2L, 17, 22, 9L)), s"got $got")
  }

  test("dedup spans at sf0.001: spans are genuine (verified against the raw text)") {
    val spans = Dedup.qDedupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(spans.nonEmpty, "fixture has known near-dup docs; spans must exist")
    val toksByDoc = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), graft.core.TextPipeline.normalizedTokens(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    spans.foreach { case (a, b, sa, sb, len) =>
      val (wa, wb) = (toksByDoc(a), toksByDoc(b))
      assert(wa.slice(sa, sa + len.toInt) == wb.slice(sb, sb + len.toInt),
        s"span ($a,$b,$sa,$sb,$len) does not match the underlying text")
      // maximality: the span cannot extend by one word on either side
      val leftOk = sa == 0 || sb == 0 || wa(sa - 1) != wb(sb - 1)
      val rightOk = sa + len >= wa.length || sb + len >= wb.length ||
        wa(sa + len.toInt) != wb(sb + len.toInt)
      assert(leftOk && rightOk, s"span ($a,$b,$sa,$sb,$len) is not maximal")
    }
  }

  test("ann recall eval: per-query recall equals the set intersection of the two shipped queries") {
    val truth = Similarity.qAnnBruteforce(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(2)).toSet }
    val approx = Similarity.qAnnIvf(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(2)).toSet }
    val eval = Similarity.qAnnRecallEval(spark, sf).collect()
    assert(eval.length == truth.size)
    eval.foreach { r =>
      val (q, k, hits, ppm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k == truth(q).size.toLong)
      val want = (truth(q) intersect approx.getOrElse(q, Set.empty)).size.toLong
      assert(hits == want, s"q=$q hits $hits != intersection $want")
      assert(ppm == hits * 1000000L / k)
    }
    // the index must beat random probing decisively on aggregate: random
    // nprobe=2-of-8 cells recovers ~250000 ppm; require ≥ 1.4× that
    // (measured operating point at sf0.001: ~480000 ppm)
    val total = eval.map(_.getLong(2)).sum * 1000000L /
      eval.map(_.getLong(1)).sum
    assert(total >= 350000L, s"aggregate recall $total not above random")
  }

  test("operating curve: bands >= 5 reconcile exactly with q_dedup_eval; S-shape holds") {
    val curve = Dedup.qDedupOperatingCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // conservation law: the deciles at/above the 0.5 threshold must sum
    // to q_dedup_eval's truth-side confusion counts (same hashed-shingle
    // truth, same banded candidates — floor(j*10) >= 5 iff j >= 0.5)
    val ev = Dedup.qDedupEval(spark, sf).collect()(0)
    val (tp, fn) = (ev.getLong(1), ev.getLong(3))
    val hi = curve.filter(_._1 >= 5).values
    assert(hi.map(_._1).sum == tp + fn, "n_true above 0.5 must equal tp+fn")
    assert(hi.map(_._2).sum == tp, "n_caught above 0.5 must equal tp")
    // S-shape: pooled recall at the top of the curve beats the bottom
    val top = curve.filter(_._1 >= 8).values
    val bot = curve.filter(k => k._1 >= 0 && k._1 <= 2).values
    assert(top.map(_._1).sum > 0 && bot.map(_._1).sum > 0,
      "fixture must populate both ends of the curve")
    val topR = top.map(_._2).sum * 1000000L / top.map(_._1).sum
    val botR = bot.map(_._2).sum * 1000000L / bot.map(_._1).sum
    assert(topR >= 800000L, s"near-clone recall $topR below the LSH design point")
    assert(topR > botR, "collision probability must rise with jaccard")
    // bands 0..9 never contain a zero-overlap candidate by construction
    curve.filter(_._1 >= 0).foreach { case (b, (_, _, f)) =>
      assert(f == 0L, s"band $b leaked a zero-overlap candidate") }
  }

  test("embedding drift equals a driver-side centroid recompute per label") {
    val rows = Similarity.qEmbeddingDrift(spark, sf).collect()
      .map(r => r.getAs[Number](0).longValue ->
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val vecs = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Float](2).map(x => BigDecimal(x.toDouble * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray))
    def floorDiv(a: Long, b: Long): Long = Math.floorDiv(a, b)
    val expect = vecs.groupBy(_._2).collect {
      case (label, vs) if vs.exists(_._1 % 2 == 0) && vs.exists(_._1 % 2 == 1) =>
        val halves = Seq(0L, 1L).map { h =>
          val sel = vs.filter(_._1 % 2 == h)
          val ctr = (0 until 64).map { d =>
            floorDiv(sel.map(_._3(d)).sum * 100, sel.length.toLong)
          }
          (sel.length.toLong, ctr)
        }
        val drift = (0 until 64).map { d =>
          val diff = halves(0)._2(d) - halves(1)._2(d); diff * diff
        }.sum
        label -> (halves(0)._1, halves(1)._1, drift)
    }
    assert(rows.keySet == expect.keySet && rows.keySet.nonEmpty)
    expect.foreach { case (l, t) => assert(rows(l) == t, s"label $l") }
    // same-generator halves: drift must be far below the grid's full
    // scale (a real shift would be ~1e16 per dimension)
    rows.values.foreach { case (_, _, d) => assert(d < 64L * 1000000000000000L) }
  }

  test("dedup eval: the in-plan sampled slice IS doc-space subsampling, and estimates the full metrics") {
    val d = "/root/testdata/sf0.01" // sf0.001 has too few truth pairs
    val full = Dedup.qDedupEvalImpl(spark, d, 1L).collect().head
    val samp = Dedup.qDedupEvalImpl(spark, d, 2L).collect().head
    // (1) EXACTNESS of the contract: mod=2 on the full corpus must equal
    // mod=1 on a PHYSICALLY pre-filtered corpus — i.e. the in-plan
    // predicate is doc-space subsampling, nothing more or less
    val tmp = tempDir("evalsample")
    graft.io.Tables.documents(spark, d)
      .filter(pmod(graft.core.TextPipeline.h32(col("doc_id").cast("string")),
        lit(2L)) === 0L)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val phys = Dedup.qDedupEvalImpl(spark, tmp, 1L).collect().head
    assert(samp.toString == phys.toString,
      s"sampled-in-plan $samp != physically-subsampled $phys")
    // (2) ESTIMATE quality at fixture scale: the mod=2 slice keeps only
    // ~3 of 25 truth pairs at sf0.01, so binomial noise bounds what an
    // honest pin can claim — 0.25 absolute on both ratio metrics
    // (measured: precision 0.600 vs 0.657, recall 1.000 vs 0.920)
    def ppm(r: org.apache.spark.sql.Row, c: String) =
      r.getAs[Long](c).toDouble / 1e6
    assert(math.abs(ppm(samp, "precision_ppm") - ppm(full, "precision_ppm"))
      <= 0.25, s"sampled precision drifted: $samp vs $full")
    assert(math.abs(ppm(samp, "recall_ppm") - ppm(full, "recall_ppm"))
      <= 0.25, s"sampled recall drifted: $samp vs $full")
    assert(samp.getAs[Long]("tp") + samp.getAs[Long]("fn")
      <= full.getAs[Long]("tp") + full.getAs[Long]("fn"),
      "sampled truth-pair population must be a subset")
    // (3) the operating-curve twin obeys the same exactness contract
    val curveS = Dedup.qDedupOperatingCurveImpl(spark, d, 2L)
      .collect().map(_.toString).toSeq
    val curveP = Dedup.qDedupOperatingCurveImpl(spark, tmp, 1L)
      .collect().map(_.toString).toSeq
    assert(curveS == curveP,
      s"curve sampled-in-plan $curveS != physically-subsampled $curveP")
  }

  test("persisted ANN index: the probe-only plan matches the in-plan IVFADC and contains no training stage") {
    val d = "/root/testdata/sf0.01"
    val probe = Similarity.qAnnPersisted(spark, d)
    val inPlan = Similarity.qAnnIvfPq(spark, d)
    val got = probe.collect().map(_.toString).toSeq
    val want = inPlan.collect().map(_.toString).toSeq
    assert(got == want,
      s"persisted probe diverged from in-plan IVFADC: got=${got.take(3)} want=${want.take(3)}")
    // training-free probe: k-means assignment (the argmin_cell kernel) is
    // the signature of every Lloyd pass and of the corpus encode — the
    // probe plan must not contain it, and must read the persisted index
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("argmin_cell"),
      "probe plan re-trains/re-encodes: argmin_cell found")
    val files = probe.inputFiles
    val root = Similarity.persistedIndexDir(spark, d)
    Seq("pq_codes", "ivf_centroids", "pq_codebook").foreach { t =>
      assert(files.exists(f => f.contains(root) && f.contains(t)),
        s"probe plan must scan the persisted $t table under $root")
    }
  }

  test("ANN index delta: encoding the delta against the frozen codebook reproduces the full build's rows") {
    val d = "/root/testdata/sf0.01"
    val got = Similarity.qAnnIndexDelta(spark, d)
      .collect().map(_.toString).toSeq
    val root = Similarity.persistedIndexDir(spark, d)
    val want = spark.read.parquet(s"$root/pq_codes.parquet")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id") +: col("ivf_cell") +:
        (0 until 8).map(m => element_at(col("codes"), m + 1).as(s"c$m")): _*)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"delta encode must equal the full build's index rows: got=${got.take(2)} want=${want.take(2)}")
  }

  test("persisted dedup index: probe == in-plan incremental dedup, and the probe never re-fingerprints the index half") {
    val d = "/root/testdata/sf0.01"
    val probe = Dedup.qDedupPersisted(spark, d)
    val got = probe.collect().map(_.toString).toSeq
    val want = Dedup.qDedupIncremental(spark, d).collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"persisted probe diverged: got=${got.take(3)} want=${want.take(3)}")
    // the index half's postings and shingle store come from parquet —
    // the probe's text work is O(batch) by construction
    val root = Dedup.dedupIndexDir(spark, d)
    val files = probe.inputFiles
    Seq("postings", "shingles").foreach { t =>
      assert(files.exists(f => f.contains(root) && f.contains(t)),
        s"probe must scan the persisted $t table under $root")
    }
  }

  test("residual IVFADC: recall@10 >= the non-residual rung, sharing the IVF probe geometry") {
    val d = "/root/testdata/sf0.01"
    val truth = Similarity.qAnnBruteforce(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(rows: Array[org.apache.spark.sql.Row]) = {
      val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
      (truth & approx).size.toDouble / truth.size
    }
    val rRes = recall(Similarity.qAnnIvfPqResidual(spark, d).collect())
    val rNon = recall(Similarity.qAnnIvfPq(spark, d).collect())
    // by_residual may only help, never hurt (measured: both 0.48 at
    // sf0.01 — with a 50-deep shortlist + exact re-rank, recall is
    // bounded by the NProbe/KCells coarse probe, not code fidelity; the
    // residual refinement's win materializes when the shortlist is
    // tight relative to the cells' population, which is the 100 TB
    // configuration, not the fixture's)
    assert(rRes >= rNon,
      s"residual encoding must not lose recall: $rRes < $rNon")
    assert(rRes >= 0.4, s"residual rung under the IVF floor: $rRes")
  }

  test("persisted residual index: probe-only plan matches the in-plan residual rung and contains no training stage") {
    val d = "/root/testdata/sf0.01"
    val probe = Similarity.qAnnResidualPersisted(spark, d)
    val got = probe.collect().map(_.toString).toSeq
    val want = Similarity.qAnnIvfPqResidual(spark, d)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"persisted residual probe diverged: got=${got.take(3)} want=${want.take(3)}")
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("argmin_cell"),
      "probe plan re-trains/re-encodes: argmin_cell found")
    val root = Similarity.residualIndexDir(spark, d)
    val files = probe.inputFiles
    Seq("pq_codes", "ivf_centroids", "pq_codebook").foreach { t =>
      assert(files.exists(f => f.contains(root) && f.contains(t)),
        s"probe plan must scan the persisted residual $t table under $root")
    }
  }

  test("ANN index erase: no erased id in the artifact; pruned codes == frozen-codebook re-encode of the survivors; erased ids gone from results") {
    val d = "/root/testdata/sf0.01"
    val root = Similarity.erasedAnnIndexDir(spark, d)
    val pruned = spark.read.parquet(s"$root/pq_codes.parquet")
    // (a) right-to-be-forgotten holds at the artifact level
    assert(pruned.filter(col("vec_id") % 17 === 0).count() == 0,
      "erased vec_ids survive in the pruned pq_codes artifact")
    // (b) delete-side twin of the add-side bit-equality: the pruned
    // artifact IS what a from-scratch encode of the surviving corpus
    // against the frozen quantizers produces
    val want = Similarity.encodeFrozen(spark, d, col("vec_id") % 17 =!= 0)
      .collect().map(_.toString).toSeq
    val got = pruned
      .select(col("vec_id") +: col("ivf_cell") +:
        (0 until 8).map(m => element_at(col("codes"), m + 1).as(s"c$m")): _*)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"pruned codes != survivor re-encode: got=${got.take(2)} want=${want.take(2)}")
    // (c) erased subjects appear neither as queries nor as neighbors,
    // and the deletion actually bites (the unpruned index DID serve them)
    val res = Similarity.qAnnIndexErase(spark, d).collect()
    assert(res.nonEmpty && res.forall(r =>
      r.getLong(0) % 17 != 0 && r.getLong(2) % 17 != 0),
      "erased id served from the erased generation")
    val un = Similarity.qAnnPersisted(spark, d).collect()
    assert(un.exists(r => r.getLong(2) % 17 == 0),
      "fixture must exercise deletion: unpruned results contain no erased neighbor")
  }

  test("ANN index compaction: base + 2 deltas - tombstones folds to exactly the erased generation, and the probe reads gen1 only") {
    val d = "/root/testdata/sf0.01"
    val gen1 = Similarity.compactedAnnIndexDir(spark, d)
    def codeRows(root: String) = spark.read.parquet(s"$root/pq_codes.parquet")
      .select(col("vec_id"), col("codes"), col("ivf_cell"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    // the compacted generation IS the erased index, row for row — the
    // generational fold loses nothing and resurrects nothing
    val erased = Similarity.erasedAnnIndexDir(spark, d)
    assert(codeRows(gen1).nonEmpty && codeRows(gen1) == codeRows(erased),
      "compacted generation diverged from the erased index")
    // no tombstoned id inside
    assert(spark.read.parquet(s"$gen1/pq_codes.parquet")
      .filter(col("vec_id") % 17 === 0).count() == 0,
      "tombstoned vec_ids survive compaction")
    // search equality + file anchoring: gen1 only, no base/delta files
    val probe = Similarity.qAnnIndexCompact(spark, d)
    val got = probe.collect().map(_.toString).toSeq
    val want = Similarity.qAnnIndexErase(spark, d)
      .collect().map(_.toString).toSeq
    assert(got == want, "compacted-generation probe diverged from erase")
    val codeFiles = probe.inputFiles.filter(_.contains("pq_codes"))
    assert(codeFiles.nonEmpty && codeFiles.forall(_.contains("gen1")),
      s"probe must scan only the compacted generation: ${codeFiles.take(2).toSeq}")
    // the frozen quantizers belong to gen0: the probe reads them from the
    // persisted build, and no later generation's root holds a copy
    import scala.jdk.CollectionConverters._
    val gen0 = Similarity.persistedIndexDir(spark, d)
    val later = Seq(erased, new java.io.File(gen1).getParent,
      new java.io.File(Similarity.lifecycleAnnIndexDir(spark, d)).getParent)
    val laterFiles = later.flatMap { r =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(r))
      try walk.iterator().asScala.map(_.toString).toList finally walk.close()
    }
    for (t <- Seq("ivf_centroids", "pq_codebook")) {
      val read = probe.inputFiles.filter(_.contains(t))
      assert(read.nonEmpty && read.forall(_.contains(gen0)),
        s"probe must read $t from gen0 $gen0: ${read.take(2).toSeq}")
      assert(!laterFiles.exists(_.contains(t)),
        s"$t copied into a later generation: ${laterFiles.filter(_.contains(t)).take(2)}")
    }
  }

  test("dedup index erase: no erased id in the artifacts; probe == from-scratch rebuild minus deleted; an erased-only duplicate stops being reported") {
    // engineered corpus (the sf0.01 fixture's one index-pair partner is
    // not in the mod-17 deletion set, so the delete path needs a corpus
    // where it fires): even ids = the historical index, odd = the batch;
    // doc 34 is an erased subject, doc 12 a kept one
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val alt = (1 to 40).map(i => s"v$i").mkString(" ")
    val third = (1 to 40).map(i => s"u$i").mkString(" ")
    val fourth = (1 to 40).map(i => s"t$i").mkString(" ")
    val tmp = tempDir("eraseix")
    Seq(
      (34L, base, "en", "s1"), // index, erased (34 % 17 == 0)
      (12L, alt, "en", "s1"), // index, kept
      (16L, fourth, "en", "s1"), // index, kept
      (35L, base, "en", "s1"), // batch dup of ONLY the erased index doc
      (13L, alt, "en", "s1"), // batch dup of the kept doc
      (51L, fourth, "en", "s1"), // batch dup, itself ERASED (51 % 17 == 0)
      (21L, third, "en", "s1"), (39L, third, "en", "s1")) // batch-internal pair
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val before = Dedup.qDedupPersisted(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(before == Set((35L, 34L, "index"), (13L, 12L, "index"),
      (51L, 16L, "index"), (39L, 21L, "batch")),
      s"engineered corpus mis-built: $before")
    // both sides of the subject scope bite: (35, 34) goes because its
    // index partner is erased; (51, 16) goes because the BATCH doc is
    // an erased subject and may not be fingerprinted or probed
    val after = Dedup.qDedupIndexErase(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(after == Set((13L, 12L, "index"), (39L, 21L, "batch")),
      s"erasure must drop exactly the erased subjects' pairs: $after")
    // artifact level: no erased id in either pruned table
    val root = Dedup.dedupErasedIndexDir(spark, tmp)
    for (t <- Seq("postings", "shingles")) {
      assert(spark.read.parquet(s"$root/$t.parquet")
        .filter(col("doc_id") % 17 === 0).count() == 0,
        s"erased doc_ids survive in the pruned $t artifact")
    }
    // pruned-generation probe == a from-scratch rebuild over the
    // surviving corpus, through the same builder and probe plan
    val rebuilt = tempDir("eraserb")
    Dedup.writeDedupIndex(spark, tmp,
      col("doc_id") % 2 === 0 && col("doc_id") % 17 =!= 0, rebuilt)
    val fromScratch = Dedup.probeDedupIndex(spark, tmp, rebuilt,
      col("doc_id") % 17 =!= 0).collect().map(_.toString).toSeq
    assert(Dedup.qDedupIndexErase(spark, tmp).collect()
      .map(_.toString).toSeq == fromScratch,
      "pruned generation diverged from the from-scratch rebuild minus deleted")
  }

  test("dedup index add: accepted batch joins the generation; gen1 == rebuild over index ∪ accepted; engineered admissions") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val gen1 = Dedup.dedupAddedIndexDir(spark, d)
    val gen0 = Dedup.dedupIndexDir(spark, d)
    def postings(root: String) = spark.read.parquet(s"$root/postings.parquet")
      .select("doc_id", "lang", "fingerprint").collect().map(_.toString).toSet
    // monotone growth: the new generation contains every old posting
    val p0 = postings(gen0); val p1 = postings(gen1)
    assert(p0.subsetOf(p1) && p1.size > p0.size,
      "add generation must extend the old index")
    // the added ids are exactly odd ∖ duplicates
    val dups = Dedup.qDedupPersisted(spark, d).collect()
      .map(_.getLong(0)).toSet
    val addedIds = spark.read.parquet(s"$gen1/postings.parquet")
      .filter(col("doc_id") % 2 === 1).select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(dups.nonEmpty && (addedIds & dups).isEmpty,
      s"admitted a classified duplicate: ${(addedIds & dups).take(3)}")
    // gen1 row-exact to a from-scratch rebuild over index ∪ accepted,
    // through the same builder
    val rebuilt = tempDir("addrb")
    Dedup.writeDedupIndex(spark, d,
      col("doc_id") % 2 === 0 ||
        (col("doc_id") % 2 === 1 && !col("doc_id").isin(dups.toSeq: _*)),
      rebuilt)
    assert(postings(rebuilt) == p1,
      "add generation diverged from the from-scratch rebuild")
    // engineered corpus (the erase test's): dups {35, 13, 39} rejected,
    // 21 (the batch pair's earlier side) and 37-absent; accepted = {21}
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val alt = (1 to 40).map(i => s"v$i").mkString(" ")
    val third = (1 to 40).map(i => s"u$i").mkString(" ")
    val tmp = tempDir("addix")
    Seq((34L, base, "en", "s1"), (12L, alt, "en", "s1"),
      (35L, base, "en", "s1"), (13L, alt, "en", "s1"),
      (21L, third, "en", "s1"), (39L, third, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val admitted = Dedup.qDedupIndexAdd(spark, tmp).collect()
      .map(_.getLong(0)).toSet
    assert(admitted == Set(21L),
      s"keep-earlier admission must accept exactly doc 21: $admitted")
  }

  test("dedup index compaction: base + delta - tombstones == from-scratch rebuild over the member set; no tombstoned id") {
    val d = "/root/testdata/sf0.01"
    val gen1 = Dedup.dedupCompactedIndexDir(spark, d)
    // zero tombstoned ids in either compacted artifact
    for (t <- Seq("postings", "shingles")) {
      assert(spark.read.parquet(s"$gen1/$t.parquet")
        .filter(col("doc_id") % 17 === 0).count() == 0,
        s"tombstoned doc_ids survive compaction in $t")
    }
    // member set = all docs minus duplicates minus tombstones; the fold
    // must equal a from-scratch rebuild over exactly that set
    val dups = Dedup.qDedupPersisted(spark, d).collect()
      .map(_.getLong(0)).toSet
    val rebuilt = tempDir("cmprb")
    Dedup.writeDedupIndex(spark, d,
      !col("doc_id").isin(dups.toSeq: _*) && col("doc_id") % 17 =!= 0,
      rebuilt)
    for (t <- Seq("postings", "shingles")) {
      val a = spark.read.parquet(s"$gen1/$t.parquet")
        .collect().map(_.toString).toSet
      val b = spark.read.parquet(s"$rebuilt/$t.parquet")
        .collect().map(_.toString).toSet
      assert(a.nonEmpty && a == b,
        s"compacted $t diverged from the rebuild: extra=${(a -- b).take(2)} missing=${(b -- a).take(2)}")
    }
    // and the generation holds BOTH halves (historical + admitted)
    val parities = spark.read.parquet(s"$gen1/postings.parquet")
      .select((col("doc_id") % 2).as("p")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parities == Set(0L, 1L),
      s"compacted generation must hold historical AND admitted docs: $parities")
  }

  test("ANN lifecycle chain: gen2 == frozen-codebook encode of the surviving membership; re-adds survive the tombstone; forgotten ids gone") {
    val d = "/root/testdata/sf0.01"
    val root = Similarity.lifecycleAnnIndexDir(spark, d)
    val gen2 = spark.read.parquet(s"$root/pq_codes.parquet")
    // surviving membership: everything except the non-re-consented
    // deletion subjects (odd multiples of 17)
    val member = col("vec_id") % 17 =!= 0 || col("vec_id") % 34 === 0
    // (a) associativity: the chained generations hold exactly what a
    // from-scratch encode over the survivors produces, row for row
    val want = Similarity.encodeFrozen(spark, d, member)
      .collect().map(_.toString).toSeq
    val got = gen2
      .select(col("vec_id") +: col("ivf_cell") +:
        (0 until 8).map(m => element_at(col("codes"), m + 1).as(s"c$m")): _*)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"lifecycle gen2 != survivor re-encode: got=${got.take(2)} want=${want.take(2)}")
    // (b) the day-2 tombstone must not leak onto the day-4 add: the
    // re-consented subjects are BACK in the final generation
    assert(gen2.filter(col("vec_id") % 34 === 0).count() > 0,
      "re-added subjects missing from gen2 — tombstone leaked forward")
    // (c) right-to-be-forgotten still holds for the non-re-consented half
    assert(gen2.filter(col("vec_id") % 17 === 0 && col("vec_id") % 34 =!= 0)
      .count() == 0, "forgotten vec_ids survive the lifecycle chain")
    // (d) the probe serves only members, on both sides
    val res = Similarity.qAnnIndexLifecycle(spark, d).collect()
    assert(res.nonEmpty && res.forall { r =>
      def ok(v: Long) = v % 17 != 0 || v % 34 == 0
      ok(r.getLong(0)) && ok(r.getLong(2))
    }, "non-member id served from the lifecycle generation")
  }

  test("dedup lifecycle chain: gen2 == from-scratch rebuild over its membership; re-adds survive the tombstone; forgotten ids gone") {
    val d = "/root/testdata/sf0.01"
    val root = Dedup.dedupLifecycleIndexDir(spark, d)
    // member set per the artifact (the DuckDB oracle independently pins
    // WHICH ids these are via the staged-admission CTE chain; here we
    // pin that the chained fold equals a from-scratch build over them)
    val members = spark.read.parquet(s"$root/postings.parquet")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(members.nonEmpty)
    // (a) forgotten subjects (odd multiples of 17) absent, re-consented
    // subjects (even multiples) present — per artifact
    for (t <- Seq("postings", "shingles")) {
      val ids = spark.read.parquet(s"$root/$t.parquet")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(!ids.exists(v => v % 17 == 0 && v % 34 != 0),
        s"forgotten doc_ids survive the lifecycle chain in $t")
      assert(ids.exists(_ % 34 == 0),
        s"re-added subjects missing from $t — tombstone leaked forward")
    }
    // (b) associativity: gen2 row-equal to writeDedupIndex over exactly
    // the member set (per-doc artifact determinism composed across the
    // whole verb chain)
    val rebuilt = tempDir("lcrb")
    Dedup.writeDedupIndex(spark, d,
      col("doc_id").isin(members.toSeq: _*), rebuilt)
    for (t <- Seq("postings", "shingles")) {
      val a = spark.read.parquet(s"$root/$t.parquet")
        .collect().map(_.toString).toSet
      val b = spark.read.parquet(s"$rebuilt/$t.parquet")
        .collect().map(_.toString).toSet
      assert(a.nonEmpty && a == b,
        s"lifecycle $t diverged from the rebuild: extra=${(a -- b).take(2)} missing=${(b -- a).take(2)}")
    }
  }

  test("substring dedup: engineered corpus with known repeated passages yields exact span boundaries; same-doc repeats count") {
    import spark.implicits._
    // a 14-token passage shared by docs 1 and 2 at different offsets, a
    // unique doc, and a doc whose 12-token block repeats INTERNALLY (the
    // >=2 rule counts total occurrences, not distinct docs)
    val p = ('a' to 'n').map(c => s"p$c").mkString(" ")     // 14 tokens
    val q = ('a' to 'l').map(c => s"r$c").mkString(" ")     // 12 tokens
    val docs = Seq(
      (1L, s"xa xb xc xd xe xf $p ya yb yc yd"),            // P at pos 6
      (2L, s"ma mb mc $p na nb nc nd ne"),                   // P at pos 3
      (3L, ('a' to 'o').map(c => s"u$c").mkString(" ")),     // unique
      (4L, s"$q zz yy $q")                                   // Q at 0 and 14
    ).toDF("doc_id", "text")
    val got = graft.queries.Dedup.dedupSubstrings(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Set((1L, 6, 14L), (2L, 3, 14L), (4L, 0, 12L), (4L, 14, 12L))
    assert(got == want, s"spans: got=$got want=$want")
  }

  test("substring dedup at the production threshold L=50: exact boundaries, same-doc repeat counts, 49-token near-miss excluded") {
    import spark.implicits._
    // letter-only distinct tokens (the normalizer strips non-letters, so
    // numbered tokens would collapse)
    def toks(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    def j(xs: Seq[String]) = xs.mkString(" ")
    val p = toks("p", 55) // 55-token passage shared across docs 1 and 2
    val q = toks("q", 50) // exactly-50-token passage repeated INSIDE doc 4
    val m = toks("m", 49) // 49-token NEAR-MISS shared by docs 5 and 6
    val docs = Seq(
      (1L, j(toks("xa", 7) ++ p ++ toks("ya", 5))),  // P at pos 7
      (2L, j(toks("zb", 3) ++ p ++ toks("wb", 9))),  // P at pos 3
      (3L, j(toks("uu", 60))),                       // unique filler
      (4L, j(q ++ Seq("gap", "gop") ++ q)),          // Q at 0 and 52
      (5L, j(toks("hc", 4) ++ m ++ toks("kc", 4))),  // N at pos 4 …
      (6L, j(m ++ toks("vd", 11)))                   // … and pos 0: no span
    ).toDF("doc_id", "text")
    val got = graft.queries.Dedup
      .dedupSubstrings(docs, graft.queries.Dedup.SubstrL50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // spans are MAXIMAL duplicated regions: the full 55-token passage in
    // docs 1/2 (not just its 50-gram core), both exact-50 repeats in
    // doc 4, and NOTHING from the 49-token near-miss pair
    val want = Set((1L, 7, 55L), (2L, 3, 55L), (4L, 0, 50L), (4L, 52, 50L))
    assert(got == want, s"L=50 spans: got=$got want=$want")

    // the CUT action on the same corpus: canonical = first (doc_id, pos)
    // corpus-wide, so doc 1 keeps its copy of the shared passage and
    // doc 2 loses all 55 covered positions; doc 4 keeps its FIRST
    // internal repeat and cuts the second's 50; the near-miss pair and
    // every fully-canonical doc are absent
    val cut = graft.queries.Dedup.dedupCut(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wantCut = Set((2L, 67L, 55L, 12L), (4L, 102L, 50L, 52L))
    assert(cut == wantCut, s"L=50 cut: got=$cut want=$wantCut")
  }

  test("incremental substring index: store-probe equals the full recompute on batch docs; store holds only index-half keys; plan reads the artifact") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val inc = Dedup.qSubstrIncremental(spark, d)
    val got = inc.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "fixture must contain >=50-token duplicated spans in odd docs")
    // (a) associativity: batch-chain + stored counts == the full-corpus
    // span report restricted to the batch half
    val full = Dedup.qDedupSubstrings50(spark, d)
      .filter(col("doc_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == full,
      s"probe != full recompute: extra=${(got -- full).take(3)} missing=${(full -- got).take(3)}")
    // (b) every span is in a batch (odd) document
    assert(got.forall(_._1 % 2 == 1), "index-half doc leaked into the batch report")
    // (c) the store was built from the index half only: probing with an
    // empty batch-side key (a doc sharing nothing) is covered by (a);
    // here pin the artifact exists and the plan consumes it
    val root = Dedup.substrIndexDir(spark, d)
    assert(spark.read.parquet(s"$root/keys.parquet").count() > 0)
    assert(inc.inputFiles.exists(_.contains("keys.parquet")),
      "plan must scan the persisted substring-key store")
  }

  test("substring index erase: prune equals gen0 minus subjects; verb has effect on the fixture; probe reads the erased artifact") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val em = graft.queries.Ingest.ErasureMod
    val gen0 = spark.read.parquet(s"${Dedup.substrIndexDir(spark, d)}/keys.parquet")
    // the verb must have subjects to erase, or it proves nothing
    assert(gen0.filter(col("doc_id") % em === 0).count() > 0,
      "gen0 store holds no erasure subjects — fixture regressed")
    val gen1 = spark.read.parquet(
      s"${Dedup.substrErasedIndexDir(spark, d)}/keys.parquet")
    assert(gen1.filter(col("doc_id") % em === 0).count() == 0,
      "subject postings survive the erased generation")
    // prune == filter of gen0, row for row (per-document determinism)
    val a = gen0.filter(col("doc_id") % em =!= 0)
      .collect().map(_.toString).toSet
    val b = gen1.collect().map(_.toString).toSet
    assert(a == b, s"gen1 != pruned gen0: ${(a -- b).take(2)} ${(b -- a).take(2)}")
    // the erased probe differs from the unerased one on this fixture
    // (a subject participated in a reported span), and reads gen1
    val er = Dedup.qSubstrIndexErase(spark, d)
    val inc = Dedup.qSubstrIncremental(spark, d)
    assert(er.collect().toSeq != inc.collect().toSeq,
      "erase verb had no observable effect — fixture regressed")
    assert(er.inputFiles.exists(_.contains("substrixerase")),
      "erased probe must scan the erased generation")
  }

  test("nprobe curve: monotone, exact at full probe, and consistent with the recall dashboard at nprobe=2") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.qAnnNprobeCurve(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    // monotone in nprobe (probing more cells can only add candidates)
    rows.toSeq.sliding(2).foreach { w =>
      assert(w(0)._2._2 <= w(1)._2._2,
        s"recall must be monotone in nprobe: ${rows.toSeq}")
    }
    // nprobe = KCells probes every cell == the exact scan: recall 1.0
    assert(rows.last._2._3 == 1000000L, s"full probe must be exact: $rows")
    // the nprobe=2 point is the same index/probe ranking q_ann_recall_eval
    // reports per query — totals must agree exactly
    val evalHits = Similarity.qAnnRecallEval(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (k, hits)
    assert(rows.find(_._1 == 2L).get._2._2 == evalHits.map(_._2).sum
      && rows.find(_._1 == 2L).get._2._1 == evalHits.map(_._1).sum,
      s"nprobe=2 must equal q_ann_recall_eval totals: $rows vs ${evalHits.toSeq}")
  }

  test("semantic dedup eval: caught pairs are exactly the production operator's output; sampling only shrinks the truth") {
    val d = "/root/testdata/sf0.01"
    def rows(mod: Long) = Similarity.qDedupSemanticEvalImpl(spark, d, mod)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val full = rows(1L)
    assert(full.nonEmpty, "fixture must contain cosine >= 0.4 pairs")
    // conservation: candidates are the exact-verified same-cell pairs,
    // i.e. qDedupSemantic's output — every one is true, so the caught
    // total must equal the production operator's row count exactly
    val prodPairs = Similarity.qDedupSemantic(spark, d).count()
    assert(full.values.map(_._2).sum == prodPairs,
      s"sum(n_caught) must equal |q_dedup_semantic| = $prodPairs: $full")
    full.foreach { case (b, (t, c, rppm)) =>
      assert(c <= t && rppm <= 1000000L, s"band $b: caught>true? $full")
    }
    // the in-plan sample only SHRINKS the measured pair space
    val samp = rows(2L)
    samp.foreach { case (b, (t, c, _)) =>
      assert(t <= full(b)._1 && c <= full(b)._2, s"band $b grew under sampling")
    }
  }

  test("dim-truncation curve: monotone recall, exact self-check at full dim") {
    val rows = Similarity.qAnnDimCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(8, 16, 32, 64))
    rows.foreach { case (d, k, hits, ppm) =>
      assert(hits <= k, s"d=$d hits exceed truth size")
      assert(ppm >= 0 && ppm <= 1000000L)
    }
    // more dimensions can only help: recall is non-decreasing in d
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._4 <= hi._4, s"recall fell from d=${lo._1} to d=${hi._1}")
      case _ =>
    }
    // the full-dim row recomputes the truth through the sliced path —
    // it must be exact
    assert(rows.last._4 == 1000000L,
      s"full-dim self-check not exact: ${rows.last}")
  }

  // Driver-side reference implementation of the hygiene split: md5 via
  // java.security, fully independent of both Spark's and DuckDB's hash
  // codepaths — the third engine.
  private def refH32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }
  // The same pmod(h32, 100) >= 90 held-out slice Corpus.qDecontaminate
  // and Dedup.qSplitLeakage share.
  private def refIsEval(id: Long): Boolean = refH32(id.toString) % 100 >= 90

  test("training pairs: operating-point split, one pick per (anchor, kind), production consistency") {
    val d = "/root/testdata/sf0.01" // sf0.001 may have no near-dup pairs
    val rows = Dedup.qTrainingPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.exists(_._2 == "positive") &&
      rows.exists(_._2 == "hard_negative"),
      "fixture must yield both pair kinds")
    rows.foreach { case (a, kind, p, ppm) =>
      assert(a != p, s"self-pair at anchor $a")
      kind match {
        case "positive" => assert(ppm >= 500000L, s"positive below 0.5: $ppm")
        case "hard_negative" =>
          assert(ppm < 500000L && ppm > 0L, s"hard negative outside (0,0.5): $ppm")
        case other => fail(s"unknown kind $other")
      }
    }
    // one pick per (anchor, kind)
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    // every positive edge IS a production near-dup pair, and every
    // anchor of a production pair surfaces a positive
    val prod = Dedup.qDedupMinhash(spark, d).select("a_id", "b_id").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).toSet
    val posRows = rows.filter(_._2 == "positive")
    posRows.foreach { case (a, _, p, _) =>
      assert(prod.contains((a, p)), s"positive ($a, $p) not a verified pair")
    }
    assert(posRows.map(_._1).toSet == prod.map(_._1),
      "every near-dup anchor must surface exactly its hardest positive")
  }

  test("split leakage: pair totals match q_dedup_minhash; classes match a third-engine split") {
    val d = "/root/testdata/sf0.01" // sf0.001 may have no near-dup pairs
    val out = Dedup.qSplitLeakage(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet.subsetOf(Set("train_train", "eval_eval", "leak")))
    val pairs = Dedup.qDedupMinhash(spark, d)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.values.map(_._1).sum == pairs.length,
      "classified pair total must equal the production pair count")
    // third-engine classification of every pair
    val refClasses = pairs.groupBy { case (a, b) =>
      (refIsEval(a), refIsEval(b)) match {
        case (true, true)   => "eval_eval"
        case (false, false) => "train_train"
        case _              => "leak"
      }
    }
    val refCounts = refClasses.view.mapValues(_.length.toLong).toMap
    assert(out.view.mapValues(_._1).toMap == refCounts,
      s"per-class pair counts drifted: $out vs $refCounts")
    val refDocs = refClasses.view.mapValues(
      ps => ps.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong).toMap
    assert(out.view.mapValues(_._2).toMap == refDocs,
      s"per-class doc counts drifted: $out vs $refDocs")
  }

  test("kmeans report: sizes conserve the corpus, every member is " +
      "nearest its own centroid, inertia matches a driver recompute") {
    val rep = Similarity.qKmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = graft.io.Tables.embeddings(spark, sf).count()
    assert(rep.values.map(_._1).sum == n, "cluster sizes != corpus size")
    assert(rep.values.forall(_._2 >= 0L), "negative inertia")
    // independent recompute from the exposed training internals:
    // centroids + assignments collected, distances re-derived driver-side
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = Similarity.kmeansCentroids(e).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val assigned = Similarity.kmeansAssign(e, Similarity.kmeansCentroids(e)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def d2(v: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
      acc
    }
    // (a) optimality: each vector's own cell minimizes d2 (ties -> low cell)
    assigned.foreach { case (id, v, cell) =>
      val best = cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }.min
      assert(best._2 == cell && d2(v, cents(cell)) == best._1,
        s"vec $id assigned to $cell but nearest is ${best._2}")
    }
    // (b) inertia: per-vector quantized d2 sums equal the gated report
    val wantInertia = assigned.groupBy(_._3).view.mapValues(
      _.map { case (_, v, cell) =>
        math.round(d2(v, cents(cell)) * 1e6) }.sum).toMap
    assert(rep.view.mapValues(_._2).toMap == wantInertia,
      "gated inertia != driver-side quantized recompute")
  }

  test("probe-2 semantic dedup is a strict candidate superset of " +
      "single-probe, and every recovered pair straddles a cell boundary") {
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("a_id", "b_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val single = pairs(Similarity.qDedupSemantic(spark, sf))
    val probe2 = pairs(Similarity.qDedupSemanticProbe2(spark, sf))
    // same verifier on a superset of candidates: never loses a pair,
    // and on this fixture it must actually RECOVER some (non-vacuity)
    assert(single.keySet.subsetOf(probe2.keySet),
      "probe-2 lost a single-probe pair")
    single.foreach { case (k, c) =>
      assert(probe2(k) == c, s"pair $k cosine drifted between rungs") }
    val recovered = probe2.keySet -- single.keySet
    assert(recovered.nonEmpty,
      "no boundary-straddling pairs at this scale: upgrade untested")
    // every recovered pair: different top-1 cells (else single-probe
    // would have it) but intersecting top-2 cell sets
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val top1 = Similarity.kmeansAssign(e, Similarity.kmeansCentroids(e)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    recovered.foreach { case (a, b) =>
      assert(top1(a) != top1(b),
        s"recovered pair ($a,$b) shares a top-1 cell — single-probe " +
        "should have caught it")
    }
  }

  test("all-identical embeddings mirror: every Similarity query runs; every ANN " +
      "rung breaks the all-way cosine tie by neighbor id; k-means conserves the corpus") {
    // sf0.001's 500 embeddings, each replaced by vec 0's: every cosine,
    // every Lloyd distance and every ADC score ties
    val d = tempDir("graft_identical_emb")
    val base = graft.io.Tables.embeddings(spark, sf)
    base.crossJoin(base.filter(col("vec_id") === 0L).select(col("embedding").as("e0")))
      .select(col("vec_id"), col("e0").as("embedding"), col("label"))
      .write.parquet(s"$d/embeddings.parquet")
    val ids = graft.io.Tables.embeddings(spark, d).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.length == 500)
    Similarity.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      withClue(s"$name on the identical mirror: ") {
        q(spark, d).write.format("noop").mode("overwrite").save()
      }
    }
    // (cos desc, neighbor asc) with every cosine tied: the TopK smallest
    // ids other than the query, at ranks 1..TopK
    Seq("q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
        "q_ann_persisted").foreach { name =>
      val got = Similarity.queries(name)(spark, d).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
      val want = (0L until 10L).flatMap(qId =>
        ids.filter(_ != qId).take(Similarity.TopK).zipWithIndex
          .map { case (n, i) => (qId, i + 1, n) })
      assert(got.toSeq == want, s"$name: tie order broken")
    }
    val members = Similarity.qKmeans(spark, d).collect().map(_.getLong(1)).sum
    assert(members == 500L, "k-means lost or duplicated members")
  }
}
