package graft

import org.apache.spark.sql.functions._
import graft.queries.{Corpus, Graph, Similarity, TextAnalysis}

/** Engine-side contracts for the round-4 additions that the DuckDB oracle
  * can't express directly: PageRank's conservation law, semantic dedup's
  * exact-verifier relationship to the unblocked ground truth, and the
  * co-occurrence lift's support/ordering invariants. All at sf0.001.
  */
class GraphTextSpec extends SparkSpec {

  test("pagerank: rank mass is conserved and hubs outrank the mean") {
    // With both edge orientations present there are no dangling nodes, so
    // each iteration redistributes the full mass: Σ rank = 1 up to the
    // 1e-12 contribution quantization, i.e. Σ nrank ≈ n_nodes. The output
    // is top-20 so re-derive the full table via the query's own builders:
    // cheaper to just check the visible invariant on the top-20 plus the
    // boundedness of normalized ranks.
    val top = Graph.qPagerank(spark, sf).collect()
    assert(top.length == 20)
    val ranks = top.map(_.getDouble(1))
    assert(ranks.head > 1.0, "the top hub must exceed the mean rank of 1")
    assert(ranks.sameElements(ranks.sorted(Ordering[Double].reverse)), "descending order")
    // suppliers are the high-degree side of the bipartite graph (10
    // suppliers vs ~150 customers at sf0.001) — all 10 must lead the list,
    // each far above any customer
    val (sup, cust) = top.partition(_.getString(0).startsWith("s:"))
    assert(sup.length == 10, s"expected all 10 supplier hubs in top-20, got ${sup.length}")
    assert(sup.map(_.getDouble(1)).min > 10 * cust.map(_.getDouble(1)).max,
      "supplier hubs must dominate customer ranks")
  }

  test("semantic dedup = ground-truth cosine pairs restricted to shared k-means cells") {
    val reported = Similarity.qDedupSemantic(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // unblocked ground truth: every pair with cosine >= 0.4, from the
    // brute-force all-pairs join (declared-bruteforce, test-only)
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .filter(graft.functions.VectorFunctions.cosineSim(col("a_v"), col("b_v")) >= 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reported.subsetOf(truth), s"false positives: ${reported -- truth}")
    // recall sanity: blocking must keep a usable fraction at this fixture
    assert(reported.nonEmpty, "semantic dedup found nothing at sf0.001")
  }

  test("cooccur lift: support floor, canonical pair order, lift formula") {
    val rows = TextAnalysis.qCooccurLift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wa, wb, cab, ca, cb, lift) = (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(wa < wb, s"pair not canonical: $wa >= $wb")
      assert(cab >= 5, s"support below floor: $cab")
      assert(cab <= math.min(ca, cb), "joint count exceeds a marginal")
      assert(lift > 0.0)
    }
    val lifts = rows.map(_.getDouble(5))
    assert(lifts.sameElements(lifts.sorted(Ordering[Double].reverse)), "descending lift")
  }

  test("oriented triangle counting is exact on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 10 + rnd.nextInt(30)
      val p = 0.1 + rnd.nextDouble() * 0.4
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < p
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val want = edges.toSeq
          .flatMap { case (a, b) => adj(a).intersect(adj(b)).toSeq }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val df = edges.toSeq.toDF("a", "b")
        val got = graft.queries.Graph.triangleCounts(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial $trial n=$n p=$p: got=$got want=$want")
      }
    }
  }

  test("closing-edge broadcast gate: hinted under the threshold, bare join above, same answer") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq.toDF("a", "b")
    val under = graft.queries.Graph.triangleCounts(edges) // default gate, count << 8M
    val over = graft.queries.Graph.triangleCounts(edges, broadcastRows = 0L)
    // under the gate the STATIC plan carries the broadcast hint (no AQE
    // dependence); above it no hint survives, so the closing-edge join is
    // whatever the planner picks from stats — assert on the semi join only,
    // because the 1-row degree joins may legitimately broadcast either way
    def semiJoinLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("LeftSemi")).toSeq
    assert(semiJoinLines(under).exists(_.contains("BroadcastHashJoin")),
      s"under-gate semi join must be the hinted broadcast:\n${semiJoinLines(under)}")
    assert(over.queryExecution.logical.toString.contains("UnresolvedHint") == false)
    // answers are identical regardless of the branch taken
    val a = under.orderBy("part").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = over.orderBy("part").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, "gate branch must not change the result")
  }

  test("degree-oriented triangle count equals local brute force") {
    import graft.io.Tables
    // independent recompute: adjacency sets over the co-order part graph
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = op.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val part = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      val common = adj(a).intersect(adj(b)) // each triangle hit via 3 edges
      common.foreach { c => part(c) += 1 }
    }
    // per-edge common-neighbor attribution counts each triangle once per
    // edge at its opposite vertex — i.e. exactly once per vertex
    val want = part.toSeq.sortBy { case (p, n) => (-n, p) }.take(20).toList
    val got = Graph.qTriangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
    assert(got.nonEmpty && got.head._2 > 0)
  }

  test("clustering coefficient equals a neighbor-set brute-force recompute; bounds hold") {
    val cc = Graph.qClusteringCoeff(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cc.nonEmpty)
    cc.values.foreach { case (d, t, c) =>
      assert(d >= 2, "degree-<2 nodes must be excluded")
      assert(c >= 0.0 && c <= 1.0, s"cc out of [0,1]: $c")
      assert(c == 2.0 * t / (d.toDouble * (d - 1)), "cc formula mismatch")
    }
    // independent recompute from the raw adjacency (no orientation, no
    // wedge join): cc(v) = |{(x,y) ⊆ N(v) : x~y}| / C(d,2)
    val li = graft.io.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = li.join(li.withColumnRenamed("p", "q"), "o")
      .filter(col("p") < col("q"))
      .select(col("p").as("a"), col("q").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set())
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val sample = cc.keys.toSeq.sorted.take(200)
    sample.foreach { v =>
      val nbrs = adj(v).toSeq
      val t = (for (i <- nbrs.indices; j <- i + 1 until nbrs.length
                    if edges(( math.min(nbrs(i), nbrs(j)), math.max(nbrs(i), nbrs(j)) )))
        yield 1).size
      val d = nbrs.length
      val expect = 2.0 * t / (d.toDouble * (d - 1))
      assert(cc(v) == ((d.toLong, t.toLong, expect)), s"node $v: ${cc(v)} vs ($d, $t, $expect)")
    }
  }

  test("KL drift: non-negative, matches a float recompute, disjoint vocab hits log2(N/n)") {
    val got = TextAnalysis.qKlDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // Gibbs' inequality (quantization can dip a hair below zero)
    got.foreach { case (s, _, kl) => assert(kl >= -1e-5, s"KL < 0 for $s: $kl") }
    // independent plain-double recompute within grid tolerance
    val counts = graft.core.TextPipeline
      .words(graft.io.Tables.documents(spark, sf), "text", keep = Seq("source"))
      .groupBy("source", "word").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val cw = counts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val ns = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val bigN = ns.values.sum.toDouble
    def log2(x: Double) = math.log(x) / math.log(2)
    got.foreach { case (s, n, kl) =>
      assert(n == ns(s))
      val expect = counts.filter(_._1 == s).map { case (_, w, c) =>
        (c / ns(s).toDouble) * log2((c / ns(s).toDouble) / (cw(w) / bigN))
      }.sum
      assert(math.abs(kl - expect) < 1e-4, s"$s: $kl vs $expect")
    }
    // disjoint-vocabulary source: inner term vanishes (c_w == c_sw), so
    // KL collapses to the closed form log2(N / n_s)
    import spark.implicits._
    val dir = tempDir("kldrift")
    Seq((0L, "aa bb aa bb aa bb aa bb aa bb aa bb", "en", "big", 35L),
        (1L, "zz yy zz yy", "en", "rare", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val crafted = TextAnalysis.qKlDrift(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(crafted("rare") - log2(16.0 / 4.0)) < 1e-5,
      s"disjoint-vocab KL != log2(N/n): ${crafted("rare")}")
    assert(math.abs(crafted("big") - log2(16.0 / 12.0)) < 1e-5)
  }

  test("token entropy: uniform doc = log2(n), constant doc = 0, 50/50 doc = 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "en"),       // 4 distinct → H = 2
      (2L, "a a a a a", "en"),     // constant → H = 0
      (3L, "a a b b", "en"),       // fair coin → H = 1
      (4L, "x", "en")              // single token → H = 0
    ).toDF("doc_id", "text", "lang")
    val h = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(h(1L) == (4L, 4L, 2.0))
    assert(h(2L) == (5L, 1L, 0.0))
    assert(h(3L) == (4L, 2L, 1.0))
    assert(h(4L) == (1L, 1L, 0.0))
  }

  test("phrase search counts adjacent positional matches, not substrings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "fast table fast table", "en"),  // 2 adjacent hits
      (2L, "fast fast table", "en"),        // 1 (first fast not adjacent)
      (3L, "table fast", "en"),             // reversed → no hit
      (4L, "fastx table fast tabley", "en"),// normalization keeps letters, so
                                            // 'fastx'/'tabley' are NOT matches
      (5L, "Fast, table!", "en")            // normalization lowers + strips → hit
    ).toDF("doc_id", "text", "lang")
    val hits = TextAnalysis.phraseHits(docs, "fast", "table").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hits == Map(1L -> 2L, 2L -> 1L, 5L -> 1L),
      s"positional adjacency semantics violated: $hits")
  }

  test("bigram LM: deterministic successors score 0, rare continuations by MLE") {
    import spark.implicits._
    // corpus LM: c12(a b)=4, c12(b a)=3, c12(a c)=1 → c1(a)=5, c1(b)=3
    val docs = Seq(
      (1L, "a b a b a b", "en"), // bigrams ab×3, ba×2
      (2L, "a b a c", "en"),     // bigrams ab, ba, ac
      (3L, "z", "en")            // <2 tokens → no bigrams → no output row
    ).toDF("doc_id", "text", "lang")
    def qlog(c: Long): Long = math.round(math.log(c.toDouble) / math.log(2.0) * 1e6)
    def nll(pairs: (Long, Long)*): Double = {
      val q = pairs.map { case (c1, c12) => qlog(c1) - qlog(c12) }.sum
      BigDecimal((q.toDouble / 1e6) / pairs.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = TextAnalysis.bigramLm(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L), "doc without bigrams must be absent")
    assert(got(1L) == (5L, nll((5, 4), (5, 4), (5, 4), (3, 3), (3, 3))),
      s"doc1 ${got(1L)}")
    assert(got(2L) == (3L, nll((5, 4), (3, 3), (5, 1))), s"doc2 ${got(2L)}")
    // a head always followed by the same word contributes exactly 0
    assert(nll((3, 3)) == 0.0)
  }

  test("tail index equals a full driver-side Hill recompute on the fixture wordcount") {
    val r = TextAnalysis.qTailIndex(spark, sf).collect()(0)
    val counts = graft.core.TextPipeline
      .words(graft.io.Tables.documents(spark, sf), "text")
      .groupBy("word").count().collect()
      .map(x => (x.getString(0), x.getLong(1)))
      .sortBy { case (w, f) => (-f, w) } // rank order: f desc, word asc
    def qlog(c: Long): Long =
      math.round(math.log(c.toDouble) / math.log(2.0) * 1e6)
    val nVocab = counts.length.toLong
    val k = math.min(20L, nVocab - 1).toInt
    val fRef = counts(k)._2 // rank k+1, 0-indexed
    val denom = counts.take(k).map(c => qlog(c._2) - qlog(fRef)).sum
    assert(r.getLong(0) == nVocab && r.getLong(1) == k.toLong)
    assert(r.getLong(2) == fRef && r.getLong(3) == denom,
      s"denom ${r.getLong(3)} != recompute $denom")
    if (denom > 0)
      assert(r.getLong(4) == k * 1000000000000L / denom)
    assert(denom >= 0, "top-k frequencies are >= the reference frequency")
  }

  test("perplexity filter: exact per-lang decile cut, worst scores first, ranks contiguous") {
    val rows = TextAnalysis.qPerplexityFilter(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    assert(rows.nonEmpty, "fixture must have a reject decile")
    // exact cut size: per-lang rejects == scored-doc count DIV 10
    val scoredPerLang = TextAnalysis.qBigramLm(spark, sf)
      .join(graft.io.Tables.documents(spark, sf)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang")), "doc_id")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.length == (scoredPerLang(lang) / 10).toInt,
        s"$lang: ${rs.length} rejects vs ${scoredPerLang(lang)} scored")
      val byRank = rs.sortBy(_._5)
      assert(byRank.map(_._5).sameElements(1 to rs.length),
        s"$lang ranks not contiguous")
      // worst-first: score_micros non-increasing along the rank order
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4
        case _ => true
      }, s"$lang scores not sorted worst-first")
      assert(rs.forall(_._4 >= 0L), "MLE nll is non-negative")
    }
  }

  test("trigram novelty: first occurrence owns the trigram, restatement scores low") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "en"),   // trigrams {a b c, b c d} — both first here
      (2L, "a b c x", "en"),   // {a b c} owned by doc 1, {b c x} novel → 0.5
      (3L, "a b c d", "en"),   // exact restatement → 0.0
      (4L, "z z", "en")        // <3 tokens → no trigrams → absent
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.trigramNovelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == (2L, 2L, 1.0), s"doc1 ${got(1L)}")
    assert(got(2L) == (2L, 1L, 0.5), s"doc2 ${got(2L)}")
    assert(got(3L) == (2L, 0L, 0.0), s"doc3 ${got(3L)}")
  }

  test("kcore layers are exact on random graphs vs a local peel recompute") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    for (trial <- 1 to 6) {
      val n = 8 + rnd.nextInt(25)
      val p = 0.1 + rnd.nextDouble() * 0.5
      val k = 2 + rnd.nextInt(3)
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < p
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        // driver-side peel: recount degrees, remove < k, tag the round
        var live = edges
        var layers = Map.empty[Long, Int]
        var round = 1
        var alive = live.flatMap(e => Seq(e._1, e._2))
        var done = false
        while (!done && round <= 12) {
          val deg = live.toSeq.flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).view.mapValues(_.size).toMap
          val keep = alive.filter(v => deg.getOrElse(v, 0) >= k)
          val dropped = alive -- keep
          if (dropped.isEmpty) done = true
          else {
            layers ++= dropped.map(_ -> round)
            live = live.filter(e => keep(e._1) && keep(e._2))
            alive = keep
            round += 1
          }
        }
        val want = layers ++ alive.map(_ -> 0)
        val got = Graph.kcoreLayers(edges.toSeq.toDF("a", "b"), k, 12)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == want, s"trial $trial n=$n p=$p k=$k")
      }
    }
  }

  test("shortest path relax equals local Dijkstra on random weighted graphs") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(15)
      val und = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.3
      } yield (s"v$a", s"v$b", 1L + rnd.nextInt(9))).toSeq
      if (und.nonEmpty) {
        val dirEdges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        val src = und.head._1
        // the SAME relax fold qShortestPath runs, over an injected graph
        val e = dirEdges.toDF("src", "dst", "w").localCheckpoint()
        var r = Seq((src, 0L)).toDF("node", "dist").localCheckpoint()
        for (_ <- 1 to 12) {
          val next = r.select(col("node"), col("dist"))
            .unionAll(r.join(e, r("node") === e("src"))
              .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
            .groupBy("node").agg(min(col("dist")).as("dist")).localCheckpoint()
          Bridge.freeLocalCheckpoint(r)
          r = next
        }
        val got = r.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        // Dijkstra
        val adj = dirEdges.groupBy(_._1).view
          .mapValues(_.map(t => (t._2, t._3))).toMap
        val dist = scala.collection.mutable.Map(src -> 0L)
        val pq = scala.collection.mutable.PriorityQueue((0L, src))(
          Ordering.by[(Long, String), Long](-_._1))
        while (pq.nonEmpty) {
          val (d, u) = pq.dequeue()
          if (d == dist(u)) adj.getOrElse(u, Seq.empty).foreach { case (v, w) =>
            if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
          }
        }
        assert(got == dist.toMap, s"trial $trial n=$n")
      }
    }
  }

  test("kcore layers: exact cascade on a hand-built clique + pendant chain") {
    import spark.implicits._
    // K5 clique on 1..5 plus a pendant path 5-6-7-8. With k=2 the chain
    // peels one node per round (8 → 7 → 6: layers 1, 2, 3) and the clique
    // is the 2-core — the cascade proves rounds re-evaluate degrees on
    // the CURRENT edge set, not the original one.
    val clique = for { a <- 1 to 5; b <- (a + 1) to 5 } yield (a.toLong, b.toLong)
    val chain = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val edges = (clique ++ chain).toDF("a", "b")
    val got = Graph.kcoreLayers(edges, k = 2, rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0,
      6L -> 3, 7L -> 2, 8L -> 1), s"got $got")
    // idempotence past the fixpoint: 7 rounds == 6 rounds (the headroom
    // contract q_kcore's fixed 8-round unroll relies on)
    val more = Graph.kcoreLayers(edges, k = 2, rounds = 7).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(more == got, "extra peel rounds past the fixpoint must be no-ops")
  }

  test("kcore at sf0.001: total partition into layers, k-core property holds") {
    val rows = Graph.qKcore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    // every node of the co-order graph appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length, "node listed twice")
    assert(rows.length == 200, s"expected all 200 sf0.001 parts, got ${rows.length}")
    // measured fixture behavior: K=80 dissolves the sf0.001 graph entirely
    // within the unrolled rounds (fixpoint at 3) — no layer-0 survivors,
    // and layers stay far inside the 8-round unroll (convergence evidence)
    val layers = rows.map(_._2)
    assert(layers.forall(l => l >= 1 && l <= 4), s"layers out of range: ${layers.distinct.sorted.toSeq}")
    assert(rows.count(_._2 == 0) == 0, "sf0.001 graph has no 80-core")
  }

  test("shortest path == local Dijkstra recompute; source at distance 0") {
    val got = Graph.qShortestPath(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent recompute: collect the weighted edge list and run plain
    // Dijkstra on the driver (160 nodes at sf0.001)
    val li = graft.io.Tables.lineitem(spark, sf)
    val ord = graft.io.Tables.orders(spark, sf)
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("s:"), col("l_suppkey")).as("s"),
        concat(lit("c:"), col("o_custkey")).as("c"))
      .agg(countDistinct(col("l_orderkey")).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val adj = (pairs.map(p => (p._1, (p._2, p._3))) ++
      pairs.map(p => (p._2, (p._1, p._3)))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val src = pairs.map(_._1).min
    val dist = scala.collection.mutable.Map(src -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, src))(
      Ordering.by[(Long, String), Long](-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) adj.getOrElse(u, Array.empty[(String, Long)]).foreach {
        case (v, w) =>
          if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
      }
    }
    assert(got(src) == 0L, "source must be at distance 0")
    assert(got == dist.toMap,
      s"Bellman-Ford 6-round unroll diverges from Dijkstra on ${
        (got.toSet diff dist.toSet).take(5)}")
  }

  test("readability: FORCAST grade bounded, language means consistent, recompute matches") {
    val rows = TextAnalysis.qReadability(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (avg, lo, hi) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // grade = 20 - 15*(mono/w) in centi: mono/w in [0,1] => [500, 2000]
      assert(lo >= 500L && hi <= 2000L && lo <= avg && avg <= hi)
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L)
    }
    // independent per-doc recompute of one language on the raw text
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vg = "[aeiouy]+".r
    val perDoc = docs.map { case (lang, text) =>
      val toks = text.split(" ", -1)
        .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty)
      val mono = toks.count(t => vg.findAllIn(t).length <= 1)
      (lang, toks.length.toLong, mono.toLong)
    }.filter(_._2 >= 1)
    val expect = perDoc.groupBy(_._1).map { case (lang, ds) =>
      val gcs = ds.map { case (_, w, m) => 2000L - (1500L * m) / w }
      lang -> (ds.length.toLong, gcs.sum / ds.length,
        ds.map(_._3).sum * 1000000L / ds.map(_._2).sum)
    }
    rows.foreach { r =>
      val (n, avg, ppm) = expect(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == avg && r.getLong(5) == ppm,
        s"lang ${r.getString(0)}: got (${r.getLong(1)}, ${r.getLong(2)}, ${r.getLong(5)}) want ($n, $avg, $ppm)")
    }
  }

  test("distinct-ngrams diversity equals a full driver-side recompute per source") {
    val rows = TextAnalysis.qDistinctNgrams(spark, sf).collect()
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val toksPerDoc = ds.map(_._2.split(" ", -1)
        .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty))
      val unis = toksPerDoc.flatten
      val tris = toksPerDoc.flatMap(w => w.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq)
      src -> (unis.length.toLong, unis.distinct.length.toLong,
        tris.length.toLong, tris.distinct.length.toLong)
    }
    assert(rows.map(_.getString(0)).toSet == expect.keySet)
    rows.foreach { r =>
      val (ut, ud, tt, td) = expect(r.getString(0))
      assert(r.getLong(1) == ut && r.getLong(2) == ud &&
        r.getLong(3) == tt && r.getLong(4) == td,
        s"source ${r.getString(0)}")
      assert(r.getLong(5) == ud * 1000000L / ut)
      if (tt > 0) assert(r.getLong(6) == td * 1000000L / tt)
    }
    // diversity axiom: distinct-3 ratio strictly above distinct-1 ratio on
    // natural text (trigram types outnumber word types proportionally)
    rows.foreach(r => assert(r.getLong(6) > r.getLong(5), r.getString(0)))
  }

  test("corpus pipeline capstone equals a driver-side four-stage replay") {
    val rows = Corpus.qCorpusPipeline(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // stage 1+2: scrub (same Java regexes the plan runs) and tokenize
    val toks = docs.map { case (id, lang, text) =>
      val clean = text
        .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>")
        .replaceAll("[0-9]{6,}", "<NUM>")
        .replaceAll("https?://[^ ]+", "<URL>")
      (id, lang, clean.split(" ", -1)
        .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty))
    }
    // stage 2: exact-interpolation percentile gate (Spark `percentile`)
    val sorted = toks.map(_._3.length.toLong).sorted
    def pct(q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
    val (p10, p90) = (pct(0.1), pct(0.9))
    val gated = toks.filter(t =>
      t._3.length >= p10 && t._3.length <= p90)
    // stage 3: min-id-per-fingerprint exact dedup
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val survivors = gated.groupBy(t => md5hex(t._3.mkString(" ")))
      .values.map(_.minBy(_._1)).toSeq
    // stage 4: h32 mod 100 split, then the final rollup
    def h32(sv: String): Long = java.lang.Long.parseLong(
      md5hex(sv).take(8), 16)
    val expect = survivors.map { case (id, lang, w) =>
      val b = h32(id.toString) % 100
      val split = if (b < 80) "train" else if (b < 90) "val" else "test"
      ((split, lang), w.length.toLong)
    }.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(_._2).sum) }
    assert(rows == expect)
    // and the pipeline must actually do work on this fixture: the gate
    // and the dedup each remove someone
    assert(survivors.size < gated.size || gated.size < docs.length)
    assert(rows.values.map(_._1).sum == survivors.size.toLong)
  }

  test("full corpus pipeline equals an independent driver-side replay of all six stages") {
    // sf0.01, not the suite default: the decontamination cut needs the
    // larger fixture's test-slice clones to have anything to do
    val sf = "/root/testdata/sf0.01"
    val got = Corpus.qCorpusPipelineFull(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toMap
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h32(sv: String): Long = java.lang.Long.parseLong(
      md5hex(sv).take(8), 16)
    // stage 1: scrub + tokenize (the same Java regex chain the plan runs)
    val toks = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map { r =>
        val clean = r.getString(2)
          .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>")
          .replaceAll("[0-9]{6,}", "<NUM>")
          .replaceAll("https?://[^ ]+", "<URL>")
        (r.getLong(0), r.getString(1), clean.split(" ", -1)
          .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty).toSeq)
      }
    // stage 2: percentile gate (exact-interpolation, Spark `percentile`)
    val sorted = toks.map(_._3.length.toLong).sorted
    def pct(q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
    val gated = toks.filter(t =>
      t._3.length >= pct(0.1) && t._3.length <= pct(0.9))
    // stage 3: exact min-id-per-fingerprint dedup
    val exact = gated.groupBy(t => md5hex(t._3.mkString(" ")))
      .values.map(_.minBy(_._1)).toSeq
    // stage 4: winnow fingerprints over the CLEANED tokens (trigram h32
    // stream, sliding min of WinnowW=4, short-doc single-window
    // fallback), same-lang candidates, exact trigram-set jaccard >= 0.2,
    // union-find closure, rep = (max tokens, min id)
    def trigrams(w: Seq[String]): Seq[String] =
      if (w.length < 3) Seq.empty else w.sliding(3).map(_.mkString(" ")).toSeq
    def winnow(w: Seq[String]): Set[Long] = {
      val hs = trigrams(w).map(h32)
      if (hs.isEmpty) Set.empty
      else if (hs.length < 4) Set(hs.min)
      else (0 to hs.length - 4).map(i => hs.slice(i, i + 4).min).toSet
    }
    val byDoc = exact.map(t => t._1 -> t).toMap
    val fpOf = exact.map(t => t._1 -> winnow(t._3)).toMap
    val candPairs = (for {
      a <- exact; b <- exact
      if a._1 < b._1 && a._2 == b._2 && (fpOf(a._1) & fpOf(b._1)).nonEmpty
    } yield (a._1, b._1))
    def jac(a: Long, b: Long): Double = {
      val (sa, sb) = (trigrams(byDoc(a)._3).toSet, trigrams(byDoc(b)._3).toSet)
      (sa & sb).size.toDouble / (sa | sb).size
    }
    val verified = candPairs.filter { case (a, b) => jac(a, b) >= 0.2 }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long =
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    verified.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val clusters = verified.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find)
    val fuzzyLosers = clusters.values.flatMap { ms =>
      val rep = ms.maxBy(id => (byDoc(id)._3.length, -id))
      ms.filter(_ != rep)
    }.toSet
    val fuzzy = exact.filterNot(t => fuzzyLosers(t._1))
    // stage 5: decontamination (train docs >= 50% trigram-hash overlap
    // with the surviving test slice)
    def bucket(id: Long): Long = h32(id.toString) % 100
    val testH = fuzzy.filter(t => bucket(t._1) >= 90)
      .flatMap(t => trigrams(t._3).map(h32).distinct).toSet
    val deconDrops = fuzzy.filter { t =>
      val hs = trigrams(t._3).map(h32).distinct
      bucket(t._1) < 80 && hs.nonEmpty &&
        hs.count(testH).toDouble / hs.size >= 0.5
    }.map(_._1).toSet
    val kept = fuzzy.filterNot(t => deconDrops(t._1))
    // stage 6: split + per-(split, lang) doc_id-ordered shard packing
    val expect = kept.map { case (id, lang, w) =>
      val b = bucket(id)
      val split = if (b < 80) "train" else if (b < 90) "val" else "test"
      (id, lang, split, w.length.toLong)
    }.groupBy(t => (t._3, t._2)).flatMap { case (_, xs) =>
      val inOrder = xs.sortBy(_._1)
      val cums = inOrder.scanLeft(0L)(_ + _._4)
      inOrder.zip(cums).map { case ((id, lang, split, nt), pre) =>
        id -> (lang, split, nt, pre / 4096L) }
    }
    assert(got == expect,
      s"full pipeline diverged: extra=${(got.keySet -- expect.keySet).take(3)} " +
        s"missing=${(expect.keySet -- got.keySet).take(3)} " +
        s"changed=${got.collect { case (k, v) if expect.get(k).exists(_ != v) =>
          (k, v, expect(k)) }.take(3)}")
    // composition must exercise every cutting stage on this fixture:
    // the gate, the fuzzy near-dup rung, and the decon cut each drop >=1
    // (exact dedup's clones happen to fall outside the gate at sf0.01 —
    // its 0 here is data, pinned by the full-map equality above)
    assert(gated.length < toks.length, "quality gate dropped nobody")
    assert(fuzzyLosers.nonEmpty, "winnow near-dup stage dropped nobody")
    assert(deconDrops.nonEmpty, "decontamination dropped nobody")
  }

  test("vocab coverage@k equals the driver-side Zipf-ranked recompute") {
    val rows = TextAnalysis.qVocabCoverage(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    val freq = graft.io.Tables.documents(spark, sf).select(col("text"))
      .collect().flatMap(_.getString(0).split(" ", -1)
        .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty))
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }.toSeq
    val byRank = freq.sortBy { case (w, f) => (-f, w) }
    val total = freq.map(_._2).sum
    rows.foreach { r =>
      val k = r.getLong(0).toInt
      val top = byRank.take(k)
      assert(r.getLong(1) == math.min(k, byRank.size).toLong, s"n_types@$k")
      assert(r.getLong(2) == top.map(_._2).sum, s"covered@$k")
      assert(r.getLong(3) == total)
      assert(r.getLong(4) == top.map(_._2).sum * 1000000L / total)
    }
    // coverage is strictly monotone while k stays below the vocab size
    rows.sliding(2).foreach { p =>
      if (p(1).getLong(1) > p(0).getLong(1))
        assert(p(1).getLong(4) > p(0).getLong(4), "coverage must grow with k")
    }
  }

  test("heaps-law curve: monotone, endpoint-exact, and slice-recomputable") {
    val rows = Corpus.qHeapsLaw(spark, sf).collect().sortBy(_.getLong(0))
    assert(rows.length == 10 && rows.map(_.getLong(0)).toSeq == (0L to 9L))
    // both curves monotone non-decreasing
    for (i <- 1 until 10) {
      assert(rows(i).getLong(1) >= rows(i - 1).getLong(1))
      assert(rows(i).getLong(2) >= rows(i - 1).getLong(2))
    }
    // the final point IS the whole corpus: total tokens and full vocab
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)
        .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty)))
    assert(rows(9).getLong(1) == docs.map(_._2.length.toLong).sum)
    assert(rows(9).getLong(2) == docs.flatMap(_._2).distinct.length.toLong)
    // slice assignment recompute via the same md5-prefix hash: the first
    // point equals the slice-0 sub-corpus measured directly
    def h32(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sv.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val slice0 = docs.filter { case (id, _) => h32(id.toString) % 10 == 0 }
    assert(rows(0).getLong(1) == slice0.map(_._2.length.toLong).sum)
    assert(rows(0).getLong(2) == slice0.flatMap(_._2).distinct.length.toLong)
    // heaps-law shape: vocab-per-token density falls as the corpus grows
    assert(rows(9).getLong(3) < rows(0).getLong(3),
      "marginal vocabulary density must decline across the corpus")
  }

  test("context-truncation budget: exact at 128 and monotone in the budget") {
    val rows = Corpus.qContextTruncation(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(64L, 128L, 256L, 512L))
    val nt = graft.io.Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0).split(" ", -1)
        .map(_.toLowerCase.replaceAll("[^a-z]", "")).count(_.nonEmpty).toLong)
    val r128 = rows(1)
    assert(r128.getLong(1) == nt.length.toLong)
    assert(r128.getLong(2) == nt.count(_ > 128).toLong)
    assert(r128.getLong(3) == nt.sum)
    assert(r128.getLong(4) == nt.map(math.min(_, 128L)).sum)
    assert(r128.getLong(5) == (nt.sum - nt.map(math.min(_, 128L)).sum)
      * 1000000L / nt.sum)
    // larger budget never truncates more docs or loses more tokens
    for (i <- 1 until 4) {
      assert(rows(i).getLong(2) <= rows(i - 1).getLong(2))
      assert(rows(i).getLong(4) >= rows(i - 1).getLong(4))
      assert(rows(i).getLong(5) <= rows(i - 1).getLong(5))
    }
  }

  test("hits: scores equal a local matrix recompute; ranks and ppm consistent") {
    val rows = Graph.qHits(spark, sf).collect()
    val (auth, hub) = rows.partition(_.getString(0) == "authority")
    assert(auth.length == 10 && hub.length == 10)
    // rank 1 holds the max => share_ppm exactly 1e6; ppm non-increasing
    for (side <- Seq(auth, hub)) {
      val byRank = side.sortBy(_.getInt(4))
      assert(byRank.head.getLong(3) == 1000000L)
      assert(byRank.sliding(2).forall(p => p(0).getLong(3) >= p(1).getLong(3)))
      assert(byRank.sliding(2).forall(p => p(0).getLong(2) >= p(1).getLong(2)))
    }
    // local recompute of the unrolled alternation from the raw edge list
    val e = graft.io.Tables.orders(spark, sf)
      .join(graft.io.Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a1 = e.groupBy(_._2).map { case (p, es) => p -> es.length.toLong }
    val h1 = e.groupBy(_._1).map { case (c, es) =>
      c -> es.map(x => a1(x._2)).sum }
    val a2 = e.groupBy(_._2).map { case (p, es) =>
      p -> es.map(x => h1(x._1)).sum }
    val h2 = e.groupBy(_._1).map { case (c, es) =>
      c -> es.map(x => a2(x._2)).sum }
    auth.foreach { r => assert(a2(r.getLong(1)) == r.getLong(2),
      s"authority ${r.getLong(1)}") }
    hub.foreach { r => assert(h2(r.getLong(1)) == r.getLong(2),
      s"hub ${r.getLong(1)}") }
    // and the shipped top-10 IS the top-10 of the local recompute
    val topAuth = a2.toSeq.sortBy { case (p, sc) => (-sc, p) }.take(10)
    assert(auth.sortBy(_.getInt(4)).map(r => (r.getLong(1), r.getLong(2)))
      .toSeq == topAuth)
  }

  /** The pre-round-11 spelling of TextAnalysis.qVocabCoverage — a global
    * rank window over the full vocabulary — the reference the bounded
    * TakeOrdered selection is pinned result-identical to. */
  private def vocabCoverageWindow(d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = graft.core.TextPipeline.words(graft.io.Tables.documents(spark, d), "text")
      .groupBy("word").agg(count(lit(1)).as("f"))
    val tot = wc.agg(sum(col("f")).as("total_tokens"))
    val ranked = wc.withColumn("rank",
      row_number().over(Window.orderBy(col("f").desc, col("word"))))
    val spine = spark.range(5).select(expr("shiftleft(1L, cast(id AS int))")
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

  /** The pre-round-12 spelling of TextAnalysis.qTailIndex — a global rank
    * window over the full vocabulary — the reference the bounded
    * top-(k+1) selection is pinned result-identical to. */
  private def tailIndexWindow(d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qlog = (c: org.apache.spark.sql.Column) =>
      round(log2(c.cast("double")) * 1e6).cast("long")
    val ranked = graft.core.TextPipeline.words(graft.io.Tables.documents(spark, d), "text")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("word").asc)))
      .transform(graft.core.Lineage.cut) // vocabulary-sized; 3 consumers
    val nv = ranked.agg(max(col("rank")).cast("long").as("n_vocab"))
    val withK = ranked.crossJoin(broadcast(nv))
      .withColumn("k", least(lit(TextAnalysis.HillK.toLong), col("n_vocab") - 1))
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

  test("vocab coverage: bounded TakeOrdered selection == the global rank window, and the bound is in the plan") {
    // the respelling may only change the PLAN (per-partition top-16 merge
    // instead of a single-partition sort of the whole vocabulary) — never
    // the answer; measured equal at the sf1 decade and on the
    // 10x-vocabulary open-vocab control too (SURVEY.md §8.12, §8.13)
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val bounded = TextAnalysis.qVocabCoverage(spark, d)
      assert(bounded.collect().map(_.toString).toSeq ==
        vocabCoverageWindow(d)
          .collect().map(_.toString).toSeq, s"diverged at $d")
      assert(bounded.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
        "the bounded selection must compile to TakeOrderedAndProject")
    }
  }

  test("tail index: bounded top-(k+1) selection == the global rank window, and the bound is in the plan") {
    // round-12 respelling of the LAST V-cardinality rank window in the
    // repo: the Hill estimator consumes only n_vocab (a count) and the
    // top-(HillK+1) frequencies (a TakeOrdered), so neither stage may
    // sort the full vocabulary; the answer must not move
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val bounded = TextAnalysis.qTailIndex(spark, d)
      assert(bounded.collect().map(_.toString).toSeq ==
        tailIndexWindow(d)
          .collect().map(_.toString).toSeq, s"diverged at $d")
      val plan = bounded.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        "the bounded selection must compile to TakeOrderedAndProject")
    }
  }

  test("pii report: engineered corpus — per-class doc/occurrence counts and zero residual after redaction") {
    // the driver fixture is synthetic word salad with no PII, so the
    // fixture run is a vacuous all-zeros report; the semantics need a
    // corpus that actually contains each class
    import spark.implicits._
    val tmp = tempDir("piifix")
    Seq(
      (1L, "contact a.b@c.com or x@y.org today", "en", "s1"),
      (2L, "order 1234567 shipped, ref 7654321, see https://t.co/x", "en", "s1"),
      (3L, "plain text only", "en", "s2"),
      (4L, "mail me@me.io about http://a.b/c?q=1234567", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Corpus.qPiiReport(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = rows("s1"); val s2 = rows("s2")
    // s1: doc1 has 2 emails; doc2 has 2 long numbers + 1 url
    assert((s1.getAs[Long]("docs_email"), s1.getAs[Long]("n_email")) == ((1L, 2L)), s"$s1")
    assert((s1.getAs[Long]("docs_num"), s1.getAs[Long]("n_num")) == ((1L, 2L)), s"$s1")
    assert((s1.getAs[Long]("docs_url"), s1.getAs[Long]("n_url")) == ((1L, 1L)), s"$s1")
    // s2: doc3 clean; doc4 has 1 email, 1 url whose query carries a long
    // number (counted for n_num — detection is per-class, not exclusive)
    assert((s2.getAs[Long]("docs_email"), s2.getAs[Long]("n_email")) == ((1L, 1L)), s"$s2")
    assert((s2.getAs[Long]("docs_num"), s2.getAs[Long]("n_num")) == ((1L, 1L)), s"$s2")
    assert((s2.getAs[Long]("docs_url"), s2.getAs[Long]("n_url")) == ((1L, 1L)), s"$s2")
    // redaction closure: re-running the detectors on redacted text finds
    // nothing, in every source
    rows.values.foreach(r => assert(r.getAs[Long]("n_residual") == 0L, s"$r"))
  }

  test("group sample: k stable picks per language via the bounded aggregate — no per-group window in the plan") {
    val d = "/root/testdata/sf0.01"
    val df = Corpus.qGroupSample(spark, d)
    val rows = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val langs = graft.io.Tables.documents(spark, d)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(rows.groupBy(_._1).keySet == langs)
    rows.groupBy(_._1).foreach { case (l, rs) =>
      assert(rs.map(_._2).sorted == (1 to 5), s"lang $l picks: $rs")
    }
    // deterministic: a second run returns the identical sample
    assert(rows == Corpus.qGroupSample(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq)
    // the selection must be the O(k)-state aggregate, not a window sort
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "group sampling must not ship groups through a window")
  }

  test("DP release: exact seeded Laplace draw, tail bound, released = true + noise") {
    val rows = graft.queries.Ingest.qDpRelease(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    for ((lang, n, noise, dp) <- rows) {
      // third-engine recompute of the draw
      val h = java.lang.Long.parseLong(md5hex(s"dp-42:$lang").substring(0, 8), 16)
      val cc = h % 1000000L * 2 + 1
      val sgn = if (cc > 1000000L) 1L else -1L
      val m = 1000000L - math.abs(cc - 1000000L)
      val refNoise = sgn * (math.round(math.log(1e6) / math.log(2) * 1e6) -
        math.round(math.log(m.toDouble) / math.log(2) * 1e6))
      assert(noise == refNoise, s"$lang: noise $noise != seeded draw $refNoise")
      // Laplace support bound on the grid: |noise| <= log2(1e6) micros
      assert(math.abs(noise) <= 19931569L, s"$lang noise outside support")
      assert(dp == n * 1000000L + noise)
    }
  }

  test("naive bayes learns separable vocabularies, falls back to the " +
      "prior on unseen words, and Laplace keeps cross-class words finite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def corpus(rows: Seq[(Long, String, Seq[String], Int)]) =
      rows.toDF("doc_id", "y_true", "w", "b")
    def confusion(rows: Seq[(Long, String, Seq[String], Int)]) =
      graft.queries.TextAnalysis.nbConfusion(corpus(rows)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (a) fully separable vocabularies -> a perfect diagonal: class A
    // speaks {alpha, beta}, class B speaks {gamma, delta}; 3 train docs
    // each (b != 0), 2 test docs each (b = 0)
    val aW = Seq("alpha", "beta"); val bW = Seq("gamma", "delta")
    val sep =
      (1L to 3L).map(i => (i, "A", aW, 1)) ++
      (4L to 6L).map(i => (i, "B", bW, 1)) ++
      Seq((7L, "A", Seq("alpha", "alpha", "beta"), 0),
        (8L, "A", Seq("beta"), 0),
        (9L, "B", Seq("gamma", "delta", "delta"), 0),
        (10L, "B", Seq("gamma"), 0))
    assert(confusion(sep) == Map(("A", "A") -> 2L, ("B", "B") -> 2L),
      "separable classes must classify perfectly")
    // (b) a test doc of entirely unseen words carries zero evidence for
    // every class (all terms are the shared -qlog(n_c + V) fallback
    // only when n_c ties) -> the argmax is decided by prior + fallback;
    // with class A given 3x the training docs AND the same token count
    // per class, A must win
    val unseen =
      (1L to 3L).map(i => (i, "A", Seq("alpha"), 1)) ++
      Seq((4L, "B", Seq("gamma", "gamma", "gamma"), 1),
        (9L, "B", Seq("zzz", "qqq"), 0))
    assert(confusion(unseen) == Map(("B", "A") -> 1L),
      "unseen-vocabulary doc must fall back to the prior argmax")
    // (c) Laplace smoothing: a doc mixing one B-word into A-vocabulary
    // still classifies A — without the +1 the B-class score would be
    // log(0) = -inf and the A-class score equally undefined; with it
    // the majority evidence wins
    val mixed =
      (1L to 3L).map(i => (i, "A", aW, 1)) ++
      (4L to 6L).map(i => (i, "B", bW, 1)) ++
      Seq((7L, "A", Seq("alpha", "beta", "alpha", "gamma"), 0))
    assert(confusion(mixed) == Map(("A", "A") -> 1L),
      "one cross-class word must not flip a majority-evidence doc")
    // (d) the fixture rung is shaped right: confusion cells sum to the
    // test-split size and predictions stay inside the label set
    val fix = graft.queries.TextAnalysis.qNbLangId(spark, sf).collect()
    val docs = graft.io.Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct().collect()
      .map(_.getString(0)).toSet
    val testN = docs.select(col("doc_id"),
        pmod(graft.core.TextPipeline.h32(col("doc_id").cast("string")),
          lit(4)).as("b"))
      .filter(col("b") === 0).count()
    assert(fix.map(_.getLong(2)).sum == testN,
      "confusion mass != test-split size")
    assert(fix.forall(r => langs(r.getString(0)) && langs(r.getString(1))))
  }

  test("textrank: hub word outranks leaves, stuttered self-pairs are " +
      "excluded, and normalized ranks average 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ranks(texts: Seq[String]): Map[String, Double] =
      graft.queries.Graph.textrankFrom(texts.toDF("text")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // star graph: "hub" is adjacent to every leaf, leaves only to hub —
    // the walk concentrates rank on the hub
    val star = ranks(Seq("aa hub bb hub cc hub dd hub aa"))
    assert(star("hub") > star("aa") && star("hub") > star("bb") &&
      star("hub") > star("cc") && star("hub") > star("dd"),
      s"hub must dominate a star graph: $star")
    // stutter: "go go go stop" — the go-go self-pair must NOT create an
    // edge; the graph is the single go—stop edge, a symmetric 2-node
    // walk whose stationary ranks are equal
    val stut = ranks(Seq("go go go stop"))
    assert(stut.keySet == Set("go", "stop"))
    assert(stut("go") == stut("stop"),
      s"self-pairs must not skew a symmetric pair: $stut")
    // weighted spreading: "a b a b a c" — b receives 2/3 of a's rank
    // mass each step, c only 1/3, so b must outrank c
    val wtd = ranks(Seq("a b a b a c"))
    assert(wtd("b") > wtd("c"),
      s"heavier edge must attract more rank: $wtd")
    // fixture rung: top-20 cut, every rank positive, and since nranks
    // are mean-normalized the fixture's 31-word graph must show spread
    val fix = graft.queries.Graph.qTextrank(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(fix.length == 20)
    assert(fix.forall(_._2 > 0.0))
    assert(fix.map(_._2).distinct.length > 1, "degenerate uniform ranks")
  }
}
