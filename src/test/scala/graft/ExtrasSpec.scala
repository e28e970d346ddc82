package graft

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.queries.Extras

/** Extras-tier contracts SQL can't express, plus storage-layout evidence
  * (partition pruning) for the scale story. */
class ExtrasSpec extends SparkSpec {

  test("hll_det estimate stays within 10% of exact per language; " +
      "approx_count_distinct baseline within 5%") {
    import org.apache.spark.sql.functions._
    val rows = Extras.qApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getAs[Double]("approx_words"), r.getAs[Long]("exact_words"))
      assert(exact > 0)
      // m=256 classic HLL: ±1.04/√m ≈ 6.5% standard error (measured
      // fixture drift ≈ 6.6% in the linear-counting regime)
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"lang=${r.getString(0)}: approx=$approx exact=$exact drift > 10%")
    }
    // the Spark-internal HLL++ spelling stays as the measured baseline
    val base = graft.core.TextPipeline
      .words(graft.io.Tables.documents(spark, sf), "text", keep = Seq("lang"))
      .groupBy("lang")
      .agg(approx_count_distinct(col("word"), 0.02).as("a"),
        countDistinct(col("word")).as("e")).collect()
    base.foreach { r =>
      val (a, e) = (r.getAs[Long]("a"), r.getAs[Long]("e"))
      assert(math.abs(a - e).toDouble / e <= 0.05,
        s"baseline approx_count_distinct drift > 5% (lang=${r.getString(0)})")
    }
  }

  test("hll_det registers are deterministic across parallelism levels " +
      "and equal a single-threaded recompute") {
    import org.apache.spark.sql.functions._
    def regs(parts: Int): Map[String, Seq[Int]] = graft.core.TextPipeline
      .words(graft.io.Tables.documents(spark, sf), "text", keep = Seq("lang"))
      .repartition(parts)
      .groupBy("lang")
      .agg(graft.functions.VectorFunctions.hllDet(
        graft.core.TextPipeline.h32(col("word"))).as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val r32 = regs(32)
    assert(regs(1) == r32, "register state differs between 1 and 32 partitions")
    // independent register recompute from first principles (md5 h32)
    val words = graft.core.TextPipeline
      .words(graft.io.Tables.documents(spark, sf), "text", keep = Seq("lang"))
      .select(col("lang"), col("word")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = words.groupBy(_._1).map { case (lang, ws) =>
      val m = new Array[Int](256)
      ws.map(_._2).distinct.foreach { w =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8")).take(4)
          .foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xFF))
        val j = (md >>> 24).toInt
        val tail = md & 0xFFFFFF
        val rho = if (tail == 0L) 25
          else 25 - (64 - java.lang.Long.numberOfLeadingZeros(tail))
        if (rho > m(j)) m(j) = rho
      }
      lang -> m.toSeq
    }
    assert(want == r32.map { case (k, v) => k -> v }, "registers != first-principles recompute")
  }

  test("correlated scalar subquery is decorrelated (aggregate+join, no per-row subplan)") {
    val df = graft.queries.Relational.qCorrelatedSubquery(spark, sf)
    df.collect()
    val plan = org.apache.spark.sql.graftbridge.Bridge.finalPlanString(df)
    // decorrelation = the subquery became a joined aggregate; a surviving
    // Subquery/ScalarSubquery node would mean a per-row subplan at scale
    assert(!plan.contains("Subquery"),
      s"correlated subquery was not decorrelated:\n$plan")
    assert(plan.contains("Join"), "expected the decorrelated aggregate to be joined back")
  }

  test("histogram quantile estimates land within two bucket widths of exact") {
    import org.apache.spark.sql.functions._
    val est = graft.queries.Extras.qQuantileSketch(spark, sf).collect()(0)
    val ex = graft.io.Tables.orders(spark, sf).agg(
      expr("percentile(o_totalprice, 0.5)"), expr("percentile(o_totalprice, 0.9)"),
      min(col("o_totalprice")), max(col("o_totalprice"))).collect()(0)
    val width = (ex.getDouble(3) - ex.getDouble(2)) / 128
    assert(math.abs(est.getDouble(0) - ex.getDouble(0)) <= 2 * width,
      s"p50 est ${est.getDouble(0)} vs exact ${ex.getDouble(0)} (width $width)")
    assert(math.abs(est.getDouble(1) - ex.getDouble(1)) <= 2 * width,
      s"p90 est ${est.getDouble(1)} vs exact ${ex.getDouble(1)} (width $width)")
    // cross-check against Spark's own mergeable quantile structure: the
    // histogram estimate and approx_percentile (GK sketch, accuracy 1e4)
    // are independent approximations of the same statistic — both must
    // sit within the same bucket-width band of each other
    val ap = graft.io.Tables.orders(spark, sf).agg(
      expr("approx_percentile(o_totalprice, 0.5, 10000)"),
      expr("approx_percentile(o_totalprice, 0.9, 10000)")).collect()(0)
    assert(math.abs(est.getDouble(0) - ap.getDouble(0)) <= 2 * width,
      s"p50 est ${est.getDouble(0)} vs approx_percentile ${ap.getDouble(0)} (width $width)")
    assert(math.abs(est.getDouble(1) - ap.getDouble(1)) <= 2 * width,
      s"p90 est ${est.getDouble(1)} vs approx_percentile ${ap.getDouble(1)} (width $width)")
  }

  test("count-min sketch never underestimates and is tight on heavy hitters") {
    val rows = graft.queries.TextAnalysis.qHeavyHitters(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (n, est) = (r.getAs[Long]("n"), r.getAs[Long]("cm_est"))
      assert(est >= n, s"count-min must overestimate: word=${r.getString(0)} n=$n est=$est")
    }
    // heavy hitters dominate their buckets: the top word's estimate should
    // be close (collision mass is bounded by corpus_size/w per row)
    val top = rows.head
    assert(top.getAs[Long]("cm_est") <= top.getAs[Long]("n") * 3,
      "top heavy hitter estimate should not be swamped by collisions")
  }

  test("hash sample is a true subset at a plausible rate") {
    val sampled = Extras.qSampleHash(spark, sf).count()
    val total = graft.io.Tables.orders(spark, sf).count()
    val rate = sampled.toDouble / total
    assert(rate > 0.02 && rate < 0.08, s"5%-target hash sample rate was $rate")
  }

  test("partition-by-column writes prune partitions at read (PartitionFilters)") {
    val out = tempDir("graft_part")
    graft.io.Tables.documents(spark, sf)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val back = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      "lang filter must prune at the directory level, not post-scan")
    val expected = graft.io.Tables.documents(spark, sf)
      .filter(col("lang") === "en").count()
    assert(back.count() == expected)
  }

  test("grouping_id encodes rollup levels (2*g_status + g_priority)") {
    val rows = Extras.qGroupingId(spark, sf).collect()
    rows.foreach { r =>
      val (gs, gp, gid) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(gid == 2 * gs + gp, s"gid bit layout broken: $r")
      // rollup (not cube): status can't be subtotaled while priority is kept
      assert(!(gs == 1 && gp == 0), s"non-rollup level appeared: $r")
    }
    val levels = rows.map(_.getLong(4)).toSet
    assert(levels == Set(0L, 1L, 3L), s"rollup must emit detail/subtotal/grand: $levels")
    // grand total row carries the full count exactly once
    val grand = rows.filter(_.getLong(4) == 3L)
    assert(grand.length == 1)
    assert(grand.head.getLong(5) == graft.io.Tables.orders(spark, sf).count())
  }

  test("merge upsert conserves rows: base - deletes + inserts, ops tagged") {
    val base = graft.io.Tables.customer(spark, sf)
    val nBase = base.count()
    val keyed = base.select(col("c_custkey")).collect().map(_.getLong(0))
    val nDel = keyed.count(_ % 13 == 0)
    val nUpd = keyed.count(k => k % 13 != 0 && k % 7 == 0)
    val nIns = keyed.count(k => k % 13 != 0 && k % 7 != 0 && k % 11 == 0)
    val out = Extras.qMergeUpsert(spark, sf).collect()
    assert(out.length == nBase - nDel + nIns, "row conservation")
    val ops = out.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(ops.getOrElse("U", 0) == nUpd && ops.getOrElse("I", 0) == nIns)
    assert(ops.getOrElse("K", 0) == nBase - nDel - nUpd)
    // no deleted key survives; every inserted key is in the shifted range
    val keys = out.map(_.getLong(0)).toSet
    assert(keyed.filter(_ % 13 == 0).forall(k => !keys.contains(k)))
    out.filter(_.getString(3) == "I").foreach(r =>
      assert(r.getLong(0) > 1000000 && r.getDouble(2) == 0.0, s"bad insert: $r"))
  }

  test("weighted sample: exactly 20 per language, biased toward longer docs") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val out = graft.queries.Corpus.qWeightedSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val perLang = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toList).toMap
    val available = docs.groupBy(_._2).view.mapValues(_.length).toMap
    perLang.foreach { case (lang, rns) =>
      assert(rns == (1 to math.min(20, available(lang))).toList,
        s"$lang ranks must be dense: $rns")
    }
    // weighting sanity: the sampled docs' mean length exceeds the corpus
    // mean (chars-weighted sampling favors long docs); deterministic,
    // since both the sample and the fixture are fixed
    val sampled = out.map(_._2).toSet
    val meanAll = docs.map(_._3).sum.toDouble / docs.length
    val meanSampled = docs.filter(d => sampled(d._1)).map(_._3).sum.toDouble / sampled.size
    assert(meanSampled > meanAll,
      s"weighted sample mean $meanSampled should exceed corpus mean $meanAll")
  }

  test("chunking covers every token with stride-aligned overlapping windows") {
    import org.apache.spark.sql.functions._
    val chunks = graft.queries.Corpus.qChunkDocs(spark, sf)
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.core.TextPipeline.normalizedTokens(col("text"))).as("n"))
      .filter(col("n") > 0)
    // per-doc: chunk_ids are 0..k contiguous, coverage reaches n, and no
    // chunk is contained in its predecessor (every chunk adds tokens);
    // stride/size come from Corpus so the contract — not stale literals —
    // is what a constant change retests
    val W = graft.queries.Corpus.ChunkSize
    val S = graft.queries.Corpus.ChunkStride
    val byDoc = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("k"),
      max(col("chunk_id")).as("max_id"),
      max(col("chunk_id") * S + col("chunk_len")).as("covered"),
      min(col("chunk_len")).as("min_len"))
    val joined = byDoc.join(docs, "doc_id")
    assert(joined.filter(col("max_id") =!= col("k") - 1).count() == 0,
      "chunk ids must be contiguous from 0")
    assert(joined.filter(col("covered") =!= col("n")).count() == 0,
      "last chunk must end exactly at the document's token count")
    assert(joined.filter(col("k") > 1 && col("min_len") <= (W - S)).count() == 0,
      "a multi-chunk doc may not have a chunk adding fewer than one new token")
    // every document with tokens is chunked
    assert(joined.count() == docs.count())
  }

  test("content-defined chunking: total coverage, and boundaries survive an insertion where fixed windows shift") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // coverage laws on the fixture: contiguous ids from 1, lengths sum to n
    val cdc = graft.queries.Corpus.qChunkContentDefined(spark, sf)
    val docs = graft.io.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.core.TextPipeline.normalizedTokens(col("text"))).as("n"))
      .filter(col("n") > 0)
    val byDoc = cdc.groupBy("doc_id").agg(
      count(lit(1)).as("k"), max(col("chunk_id")).as("max_id"),
      sum(col("n_tokens")).as("covered"), min(col("n_tokens")).as("min_len"))
      .join(docs, "doc_id")
    assert(byDoc.filter(col("max_id") =!= col("k")).count() == 0,
      "chunk ids must be contiguous from 1")
    assert(byDoc.filter(col("covered") =!= col("n")).count() == 0,
      "chunk lengths must partition the document exactly")
    assert(byDoc.filter(col("min_len") < 1).count() == 0)
    assert(byDoc.count() == docs.count())
    // shift resistance: one token inserted near the front of a long doc.
    // Content-defined boundaries re-synchronize, fixed windows all shift.
    // letters only: the §2.3 normalizer strips digits, so numeric
    // suffixes would collapse every word to the same token
    val words = (1 to 400).map { i =>
      val k = ((i * 2654435761L) % 997).toInt
      s"w${('a' + k % 26).toChar}${('a' + (k / 26) % 26).toChar}${('a' + (k / 676) % 26).toChar}"
    }
    val base = words.mkString(" ")
    val edited = (words.take(5) ++ Seq("inserted") ++ words.drop(5)).mkString(" ")
    val dir = tempDir("graft_cdc_spec")
    Seq((1L, base, "en", "src0", base.length.toLong),
      (2L, edited, "en", "src0", edited.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def shared(df: org.apache.spark.sql.DataFrame, hashCol: String): (Long, Long) = {
      val sets = df.select(col("doc_id"), col(hashCol)).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      ((sets(1L) intersect sets(2L)).size.toLong, sets(1L).size.toLong)
    }
    val (cdcShared, cdcTotal) =
      shared(graft.queries.Corpus.qChunkContentDefined(spark, dir), "chunk_hash")
    val (fixShared, fixTotal) =
      shared(graft.queries.Corpus.qChunkDocs(spark, dir), "chunk_hash")
    assert(cdcShared * 2 > cdcTotal,
      s"content-defined chunks must mostly survive the edit: $cdcShared/$cdcTotal")
    assert(fixShared * 2 < fixTotal,
      s"fixed windows after the edit must shift: $fixShared/$fixTotal")
    assert(cdcShared.toDouble / cdcTotal > fixShared.toDouble / fixTotal,
      "content-defined chunking must beat fixed windows under insertion")
  }

  test("skyline sweep equals brute-force Pareto frontier on random point sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812)
    for (trial <- 1 to 3) {
      // small value ranges force price ties and duplicate points — the
      // cases where the sweep's strict/non-strict split can go wrong
      val pts = (1 to 400).map(i =>
        (i.toLong, (rnd.nextInt(30) + 1).toDouble, (rnd.nextInt(30) + 1).toLong))
      val brute = pts.filter { case (_, pp, ps) =>
        !pts.exists { case (_, qp, qs) =>
          qp <= pp && qs <= ps && (qp < pp || qs < ps)
        }
      }.map(_._1).toSet
      val got = Extras.skylineOf(pts.toDF("p_partkey", "price", "size"))
        .collect().map(_.getLong(0)).toSet
      assert(got == brute,
        s"trial $trial: sweep ${got.size} != brute ${brute.size}; " +
          s"diff=${(got -- brute) ++ (brute -- got)}")
    }
  }

  test("interpolation: interior lerp, leading/trailing fallbacks, all-gap null") {
    // masked series per user: clicks are the gaps to reconstruct
    import spark.implicits._
    import graft.queries.Extras
    val t0 = 1700000000000000L // any anchor; only deltas matter
    def lerpOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    // Crafted through the production path by writing a tiny events table
    val dir = tempDir("graft_interp")
    Seq(
      // u1: known(10.0) .. click .. known(20.0): t exactly midway → 15.0
      (1L, t0, "u1", "view", 10.0),
      (2L, t0 + 1000000L, "u1", "click", 999.0), // masked; 999 must be ignored
      (3L, t0 + 2000000L, "u1", "purchase", 20.0),
      // u2: click BEFORE any known value → takes next (7.5)
      (4L, t0, "u2", "click", 999.0),
      (5L, t0 + 5L, "u2", "view", 7.5),
      // u2: click AFTER the last known value → takes prev (7.5)
      (6L, t0 + 9L, "u2", "click", 999.0),
      // u3: only clicks → no anchor at all → null
      (7L, t0, "u3", "click", 999.0)
    ).toDF("event_id", "ts_us", "user_id", "event_type", "value")
      // events.parquet carries TIMESTAMP(NANOS) read as raw nanos; the
      // loader divides by 1000, so write nanos here
      .select(col("event_id"), (col("ts_us") * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = lerpOf(Extras.qInterpolate(spark, dir))
    assert(out(2L).contains(15.0), s"midway lerp: ${out(2L)}")
    assert(out(4L).contains(7.5), s"leading gap takes next: ${out(4L)}")
    assert(out(6L).contains(7.5), s"trailing gap takes prev: ${out(6L)}")
    assert(out(7L).isEmpty, "gap with no anchors must stay null")
    assert(out.size == 4)
  }

  test("winsorize equals a local sorted-clamp recompute per priority") {
    val got = Extras.qWinsorize(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val rows = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def pct(sorted: Array[Double], p: Double): Double = {
      // interpolating percentile, index = p*(n-1) — Spark/DuckDB semantics
      val pos = p * (sorted.length - 1)
      val lo = math.floor(pos).toInt; val frac = pos - lo
      if (lo + 1 < sorted.length) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo)
    }
    val byP = rows.groupBy(_._1)
    assert(got.keySet == byP.keySet)
    byP.foreach { case (p, xs) =>
      val v = xs.map(_._2).sorted
      val (lo, hi) = (pct(v, 0.05), pct(v, 0.95))
      val clamped = v.map(x => math.min(math.max(x, lo), hi))
      val cents = clamped.map(x => math.round(x * 100)).sum
      val wmean = BigDecimal(cents.toDouble / 100.0 / v.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, nLo, nHi, gm) = got(p)
      assert(n == v.length, s"$p n")
      assert(nLo == v.count(_ < lo).toLong, s"$p n_lo")
      assert(nHi == v.count(_ > hi).toLong, s"$p n_hi")
      assert(math.abs(gm - wmean) < 1e-9, s"$p wmean $gm vs $wmean")
      assert(nLo > 0 || nHi > 0, s"$p: clipping must be non-vacuous")
    }
  }

  test("domain mix: temperature flattens toward uniform; ppm matches integer recompute") {
    val rows = graft.queries.Corpus.qDomainMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length > 1)
    // independent integer recompute of the ppm allocation
    val wq = rows.map { case (_, _, nt, _) => math.round(math.sqrt(nt.toDouble) * 1e6) }
    val sumWq = wq.sum
    rows.zip(wq).foreach { case ((src, _, _, ppm), w) =>
      assert(ppm == w * 1000000L / sumWq, s"ppm mismatch for $src")
    }
    // floor-division conservation: total ppm within n_sources of 1e6
    val tot = rows.map(_._4).sum
    assert(tot <= 1000000L && tot > 1000000L - rows.length)
    // the point of the temperature: sqrt weighting sits strictly between
    // proportional and uniform for every non-average source
    val totTok = rows.map(_._3).sum
    val uniform = 1000000.0 / rows.length
    rows.foreach { case (src, _, nt, ppm) =>
      val prop = 1000000.0 * nt / totTok
      if (math.abs(prop - uniform) > 1.0)
        assert(math.abs(ppm - uniform) < math.abs(prop - uniform),
          s"$src: temperature did not flatten ($ppm vs prop $prop, uniform $uniform)")
    }
  }

  test("z-order interleave matches a bit-level recompute; cells prune BOTH dimensions") {
    val d = "/root/testdata/sf0.01"
    val z = Extras.qZorder(spark, d)
      .join(Tables.orders(spark, d).select(col("o_orderkey"),
        col("o_custkey"), to_date(col("o_orderdate")).as("od")), "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDate(4).toLocalDate))
    // independent Scala recompute of the Morton interleave
    z.take(500).foreach { case (_, zval, _, ck, od) =>
      val d2 = od.toEpochDay & 0xffffL
      val d1 = ck & 0xffffL
      val expect = (0 until 16).map(j =>
        (((d1 >> j) & 1L) << (2 * j + 1)) | (((d2 >> j) & 1L) << (2 * j))).sum
      assert(zval == expect, s"zval mismatch for custkey=$ck date=$od")
    }
    // pruning evidence (the reason the layout exists): a rectangle
    // predicate on EITHER dimension touches a small fraction of z-cells,
    // while a custkey-sorted layout with the same bucket count is touched
    // 100% by the date predicate (it only prunes its own dimension).
    // Measured on this fixture: 12/66 (date) and 11/66 (custkey) vs 66/66.
    val cells = z.map(_._3).distinct.length
    val lo = java.time.LocalDate.parse("1997-03-01")
    val hi = java.time.LocalDate.parse("1997-05-29")
    val dateTouched = z.filter(r => !r._5.isBefore(lo) && !r._5.isAfter(hi))
      .map(_._3).distinct.length
    val keyTouched = z.filter(r => r._4 >= 400 && r._4 <= 499)
      .map(_._3).distinct.length
    assert(dateTouched.toDouble / cells <= 0.3,
      s"date predicate touched $dateTouched/$cells z-cells")
    assert(keyTouched.toDouble / cells <= 0.3,
      s"custkey predicate touched $keyTouched/$cells z-cells")
    val nCust = 1500L
    val custBucket = (ck: Long) => ck * cells / nCust
    val custBuckets = z.map(r => custBucket(r._4)).distinct.length
    val custTouchedByDate = z.filter(r => !r._5.isBefore(lo) && !r._5.isAfter(hi))
      .map(r => custBucket(r._4)).distinct.length
    assert(custTouchedByDate == custBuckets,
      "a custkey-sorted layout should NOT prune a date-only predicate")
  }

  test("BPE merge fold is greedy non-overlapping with lexicographic ties; dry rounds emit nothing") {
    // crafted corpus: "aaa aaaa". Hand-computed trace:
    //   r1: (a,a) count 2+3=5 → "aa a" / "aa aa"   (GREEDY left-to-right:
    //       "aaa" must become [aa, a], NOT [a, aa] — round 2 distinguishes)
    //   r2: (aa,a) and (aa,aa) tie at 1 → lexicographic rhs "a" < "aa"
    //   r3: "aaa" is one symbol; only (aa,aa) remains
    //   r4+: no pairs anywhere → rounds vanish (run-dry contract)
    import spark.implicits._
    val dir = tempDir("bpe")
    Seq((0L, "aaa aaaa", "en", "synth", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val got = graft.queries.Corpus.qBpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 5L), (2, "aa", "a", 1L), (3, "aa", "aa", 1L)),
      s"unexpected merge trace: $got")
  }

  test("BPE first merge equals an independent recompute; counts non-increasing over rounds") {
    val got = graft.queries.Corpus.qBpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got.map(_._1) == (1 to 6), "expected 6 dense rounds on the fixture")
    // merged pairs are distinct (a chosen pair is eliminated by its merge)
    assert(got.map(t => (t._2, t._3)).distinct.size == 6)
    // best-pair frequency can never increase round-over-round: a new pair
    // created by a merge occurs at most as often as the pairs it replaced
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._4 <= a._4, s"pair_count increased: $a -> $b")
    }
    // independent recompute of round 1 from the raw word counts
    val wc = graft.core.TextPipeline.words(Tables.documents(spark, sf), "text")
      .groupBy("word").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
    wc.foreach { case (w, n) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + n
      }
    }
    val bestExpected = pairCounts.toSeq
      .sortBy { case ((l, r), c) => (-c, l, r) }.head
    assert((got.head._2, got.head._3) == bestExpected._1
      && got.head._4 == bestExpected._2,
      s"round-1 merge mismatch: got ${got.head}, expected $bestExpected")
  }

  test("BPE encode conserves character mass; every multi-char subword is a learned merge product") {
    val vocab = graft.queries.Corpus.qBpeEncode(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(vocab.nonEmpty)
    // merges rearrange symbol boundaries but never create or drop letters:
    // Σ len(subword)·cnt must equal the corpus letter count
    val subwordMass = vocab.map { case (sw, c) => sw.length.toLong * c }.sum
    val letterMass = graft.core.TextPipeline
      .words(Tables.documents(spark, sf), "text")
      .agg(sum(length(col("word")))).collect()(0).getLong(0)
    assert(subwordMass == letterMass,
      s"character mass not conserved: $subwordMass vs $letterMass")
    // only a merge creates a multi-char symbol, and a surviving symbol is
    // exactly the product of the LAST merge that formed it
    val merges = graft.queries.Corpus.qBpeMerges(spark, sf).collect()
      .map(r => r.getString(1) + r.getString(2)).toSet
    val multi = vocab.map(_._1).filter(_.length > 1)
    assert(multi.nonEmpty, "expected at least one merged subword on the fixture")
    multi.foreach(sw => assert(merges(sw),
      s"multi-char subword $sw is not a learned merge product"))
  }

  test("audience overlap: KMV estimate tracks controlled partial overlaps") {
    import spark.implicits._
    // A = users 1..1200, B = 601..1800 (overlap 600), C = 1..300 (C is a
    // subset of A and disjoint from B's tail only partially: |B∩C| = 0)
    val ev =
      ((1 to 1200).map(u => ("A", u.toLong)) ++
       (601 to 1800).map(u => ("B", u.toLong)) ++
       (1 to 300).map(u => ("C", u.toLong)))
        .toDF("event_type", "user_id")
    val got = graft.queries.Extras.audienceOverlap(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("A", "B"))._2 == 600 && got(("A", "C"))._2 == 300
      && got(("B", "C"))._2 == 0, "exact overlaps must be the constructed ones")
    // estimator tolerance: at K=64 BOTH error terms are live - the
    // jaccard count (sigma ~ sqrt(K*j*(1-j)) members) AND the union
    // (K-1)*2^32/kth (sigma ~ union/sqrt(K)) - and on this fixture's
    // md5 values the A-C pair measures a ~3-sigma union overshoot
    // (recomputed by hand: 22/64 members vs E=16, union-hat 1650 vs
    // 1200 -> estimate 567 vs exact 300). The spec therefore pins the
    // ORDER OF MAGNITUDE, which still fails on any structural break
    // (empty intersect -> 0; merge bug -> union-sized estimates), and
    // exactness of the degenerate cases below.
    val (estAB, exAB) = got(("A", "B"))
    assert(estAB > exAB / 3 && estAB < exAB * 3,
      s"A-B estimate $estAB outside [x/3, 3x] of $exAB")
    val (estAC, exAC) = got(("A", "C"))
    assert(estAC > exAC / 3 && estAC < exAC * 3,
      s"A-C estimate $estAC outside [x/3, 3x] of $exAC")
    assert(got(("B", "C"))._1 == 0, "disjoint audiences must estimate 0")
  }

  test("audience overlap: unsaturated union sketch falls back to the exact count") {
    import spark.implicits._
    // |D| = |E| = 40 < K = 64 and |D∪E| = 60 < K: the merged sketch IS
    // the full union, so the estimator must return the exact overlap
    // (20) with zero error — not a jaccard scaled by the constant K
    // (which would read round((63·2^32/kth)·20/64), biased low).
    val ev =
      ((1 to 40).map(u => ("D", u.toLong)) ++
       (21 to 60).map(u => ("E", u.toLong)))
        .toDF("event_type", "user_id")
    val r = graft.queries.Extras.audienceOverlap(ev).collect()
    assert(r.length == 1)
    assert(r(0).getLong(2) == 20L && r(0).getLong(3) == 20L
        && r(0).getLong(4) == 0L,
      s"unsaturated estimate must be exact: ${r(0)}")
  }

  test("benford: grid-exact expectations, shares sum to ~1e6, counts conserve") {
    val rows = Extras.qBenford(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).sameElements(1L to 9L), "all nine digits present")
    // expectation column is the pure grid constant: (qlog(d+1) −
    // qlog(d)) · 1e6 div qlog(10); spot-pin the closed forms
    def qlog(x: Long): Long =
      math.round(math.log(x.toDouble) / math.log(2.0) * 1e6)
    rows.foreach { case (d, _, _, exp, _) =>
      assert(exp == (qlog(d + 1) - qlog(d)) * 1000000L / 3321928L,
        s"digit $d expectation")
    }
    // 301030, not 301029: the grid divisor qlog(10) = 3321928 sits half
    // a grid step below true log2(10)·1e6, nudging the quotient up one
    assert(rows.head._4 == 301030L, "P(1) = log10 2 on the 1e-6 grid")
    assert(rows.last._4 == 45757L, "P(9) = log10(10/9) = 0.045757..")
    assert(rows.map(_._2).sum ==
      Tables.orders(spark, sf).count(), "every order has a leading digit")
    val obsSum = rows.map(_._3).sum
    assert(obsSum > 999990L && obsSum <= 1000000L, s"shares sum ~1e6: $obsSum")
    rows.foreach { case (_, _, obs, exp, dev) => assert(dev == obs - exp) }
  }

  test("robust outliers: MAD flags the whale the 3-sigma z-score masks") {
    import spark.implicits._
    // values 1..9 plus a 1000 whale: med = 5.5, MAD = 2.5, threshold
    // 2.5·4.4478 = 11.12 → exactly the whale flagged. The z-score view
    // of the same data reads σ ≈ 313 → the whale is only ~2.9σ and a
    // 3σ rule MISSES it — the masking effect this operator exists for.
    val df = ((1 to 9).map(v => ("P", v.toDouble)) :+ (("P", 1000.0)))
      .toDF("priority", "x")
    val r = graft.queries.Extras.robustOutliers(df).collect()(0)
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 5.5 && r.getDouble(3) == 2.5, s"med/mad: $r")
    assert(r.getLong(4) == 1L, s"exactly the whale must be flagged: $r")
    // and the sanity direction: no outliers in clean uniform data
    val clean = (1 to 10).map(v => ("Q", v.toDouble)).toDF("priority", "x")
    assert(graft.queries.Extras.robustOutliers(clean)
      .collect()(0).getLong(4) == 0L)
  }

  test("skew advisor: all outputs match a driver-side recompute of the key histogram") {
    val got = graft.queries.Extras.qSkewAdvisor(spark, sf).collect()(0)
    val cnts = Tables.orders(spark, sf).groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nRows = cnts.map(_._2).sum; val nKeys = cnts.length.toLong
    val maxRows = cnts.map(_._2).max
    val hotKey = cnts.filter(_._2 == maxRows).map(_._1).min
    assert(got.getLong(0) == nRows && got.getLong(1) == nKeys)
    assert(got.getLong(2) == nRows / nKeys)
    assert(got.getLong(3) == maxRows && got.getLong(4) == hotKey)
    assert(got.getLong(5) == maxRows * 100 * nKeys / nRows)
    assert(got.getLong(6) == (maxRows * nKeys + nRows - 1) / nRows)
    assert(got.getLong(6) >= 1L, "salt factor is at least 1")
  }

  test("source overlap: known set intersections exact; disjoint source forms no pair") {
    import spark.implicits._
    // A={1,2,3}, B={2,3,4}, C={9}: only (A,B) pairs, |∩|=2, J=2/4
    val el = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 2L), ("B", 3L),
      ("B", 4L), ("C", 9L)).toDF("source", "h")
    val got = graft.queries.Corpus.sourceOverlap(el).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (("A", "B", 3L, 3L, 2L, 500000L)))
    // fixture: pair list bounded by C(sources,2); ppm within [0, 1e6];
    // and every pair's intersection respects both set sizes
    val fx = graft.queries.Corpus.qSourceOverlap(spark, sf).collect()
    assert(fx.length <= 190 && fx.nonEmpty)
    fx.foreach { x =>
      assert(x.getLong(4) <= math.min(x.getLong(2), x.getLong(3)))
      assert(x.getLong(5) >= 0L && x.getLong(5) <= 1000000L)
      assert(x.getString(0) < x.getString(1))
    }
  }

  test("quota allocation: Hamilton closed form, budget conserved exactly") {
    import spark.implicits._
    // masses 3:3:1 over 10000 slots — bases 4285/4285/1428 leave 2
    // slots; remainders 5/5/4 hand them to A and B (tie by lang asc)
    val got = graft.queries.Corpus.quotaAlloc(
        Seq(("A", 3L), ("B", 3L), ("C", 1L)).toDF("lang", "n_tokens"))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("A" -> ((4285L, 4286L)), "B" -> ((4285L, 4286L)),
      "C" -> ((1428L, 1428L))), s"Hamilton: $got")
    // fixture: the budget is conserved to the slot
    val fx = graft.queries.Corpus.qQuotaAlloc(spark, sf).collect()
    assert(fx.map(_.getLong(3)).sum == 10000L,
      "largest-remainder must allocate exactly the budget")
    fx.foreach(r => assert(r.getLong(3) - r.getLong(2) <= 1L))
  }

  test("sequence packing: exact bin boundaries for straddlers, exact fits, and multi-bin spans") {
    import spark.implicits._
    // PackLen = 256. Stream: 100 + 156 (exact fit at bin 0 boundary),
    // then 300 (spans bins 1-2), then 200 (fits inside bin 2 after the
    // 44-token carryover).
    val got = graft.queries.Corpus.packSequences(
        Seq((1L, 100L), (2L, 156L), (3L, 300L), (4L, 200L))
          .toDF("doc_id", "len"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == ((2L, 2L, 256L)), s"bin0 ${got(0L)}") // 100+156 fill
    assert(got(1L) == ((1L, 1L, 256L)), s"bin1 ${got(1L)}") // doc3 only
    assert(got(2L) == ((2L, 1L, 244L)), s"bin2 ${got(2L)}") // doc3 tail 44 + doc4 head 200...
    assert(got.size == 3, s"stream of 756 tokens must occupy 3 bins: $got")
    // token conservation: Σ n_tokens == Σ len
    assert(got.values.map(_._3).sum == 756L)
    // every bin except the last is exactly full
    assert(got.toSeq.sortBy(_._1).dropRight(1).forall(_._2._3 == 256L))
  }

  test("sequence packing at fixture: full bins, conserved tokens, start counts sum to docs") {
    val rows = graft.queries.Corpus.qPackSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted))
    // bins are contiguous 0..n-1 (concat-and-split leaves no holes)
    assert(rows.map(_._1).sameElements(rows.indices.map(_.toLong)))
    assert(rows.dropRight(1).forall(_._4 == 256L), "non-final bins full")
    val nDocs = graft.io.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.size(
        graft.core.TextPipeline.normalizedTokens(
          org.apache.spark.sql.functions.col("text"))) > 0).count()
    assert(rows.map(_._3).sum == nDocs, "each doc starts in exactly one bin")
  }

  test("tokenizer fertility: weighted mean of per-word pieces; segmentation covers every corpus word") {
    val rows = graft.queries.Corpus.qTokenizerFertility(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, p, f) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // chars-per-word bounds: 1 <= pieces <= word length, so
      // fertility in [1000, max-word-len * 1000]; and exact integer DIV
      assert(p >= w && f == p * 1000L / w && f >= 1000L)
    }
    // every (lang, word) occurrence must find its vocab row: the summed
    // word counts equal the corpus token counts per language
    val tokCounts = graft.io.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.explode(
          graft.core.TextPipeline.normalizedTokens(
            org.apache.spark.sql.functions.col("text"))).as("w"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == tokCounts(r.getString(0)),
        s"lang ${r.getString(0)} dropped words in the vocab join") }
  }

  test("lang id eval: total row sums the per-lang rows; correct matches the rule") {
    val rows = graft.queries.TextAnalysis.qLangIdEval(spark, sf).collect()
    val (tot, per) = rows.partition(_.getString(0) == "__all__")
    assert(tot.length == 1 && per.nonEmpty)
    val t = tot.head
    assert(t.getLong(1) == per.map(_.getLong(1)).sum)
    assert(t.getLong(4) == per.map(_.getLong(4)).sum)
    per.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1)) // en + unk = n
      val want = if (r.getString(0) == "en") r.getLong(2) else r.getLong(3)
      assert(r.getLong(4) == want)
      assert(r.getLong(5) == r.getLong(4) * 1000000L / r.getLong(1))
    }
  }

  test("dataset card: metrics agree with independent recomputes") {
    val card = graft.queries.Corpus.qDatasetCard(spark, sf).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val docs = graft.io.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .map(_.getString(0))
    assert(card("docs_total") == docs.length.toLong)
    // exact-dup uses the q_dedup_exact normalized-token fingerprint
    val norm = docs.map(_.split(" ", -1)
      .map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty)
      .mkString(" "))
    assert(card("docs_exact_dup") ==
      (norm.length - norm.distinct.length).toLong)
    val lens = docs.map(_.split(" ", -1)
      .map(_.toLowerCase.replaceAll("[^a-z]", "")).count(_.nonEmpty).toLong)
      .sorted
    assert(card("tokens_total") == lens.sum)
    val n = lens.length
    assert(card("tokens_per_doc_p50") == lens((n + 1) / 2 - 1))
    assert(card("tokens_per_doc_p90") == lens((9 * n + 9) / 10 - 1))
    assert(card("tokens_per_doc_mean_milli") == lens.sum * 1000L / n)
    assert(card("tokens_per_doc_p50") <= card("tokens_per_doc_p90"))
    assert(card("langs_distinct") >= 1L && card("sources_distinct") >= 1L)
  }

  test("quantile store: merge and subtraction are exact under the stored " +
      "grid; out-of-grid deltas clamp to the edge buckets") {
    val root = Extras.qsStoreDir(spark, sf)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice").as("x"))
    def counters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (a) the store holds the historical wave's counters under its grid
    val histGeom = spark.read.parquet(s"$root/geom_hist.parquet")
    val storedM = counters(spark.read.parquet(s"$root/hist_hist.parquet"))
    val wantHist = counters(Extras.qsHist(
      o.filter(pmod(col("o_orderkey"), lit(4)) =!= 3).select("x"), histGeom))
    assert(storedM == wantHist, "store != historical-wave histogram")
    // (b) merge linearity — ONLY meaningful under the SHARED grid
    val delta = counters(Extras.qsHist(
      o.filter(pmod(col("o_orderkey"), lit(4)) === 3).select("x"), histGeom))
    assert(delta.nonEmpty, "delta wave empty: merge untested")
    val merged = (storedM.keySet ++ delta.keySet).map(k =>
      k -> (storedM.getOrElse(k, 0L) + delta.getOrElse(k, 0L))).toMap
    assert(merged == counters(Extras.qsHist(o.select("x"), histGeom)),
      "store + delta != full recount under the stored grid")
    assert(Extras.qQsketchIncremental(spark, sf).inputFiles.exists(f =>
      f.contains("qsstore") && f.contains("hist_hist")),
      "plan must scan the histogram store artifact")
    // (c) erase by subtraction == survivor recount under the FULL grid,
    // with no bucket driven negative and zero-buckets dropped
    val fullGeom = spark.read.parquet(s"$root/geom_full.parquet")
    val fullM = counters(spark.read.parquet(s"$root/hist_full.parquet"))
    val subj = counters(Extras.qsHist(
      o.filter(graft.queries.Ingest.erasureSubject(col("o_orderkey")))
        .select("x"), fullGeom))
    assert(subj.nonEmpty, "no erasure subjects: subtraction untested")
    val subtracted = fullM.map { case (k, v) =>
      k -> (v - subj.getOrElse(k, 0L)) }.filter(_._2 != 0L)
    val survivors = counters(Extras.qsHist(
      o.filter(!graft.queries.Ingest.erasureSubject(col("o_orderkey")))
        .select("x"), fullGeom))
    assert(subtracted == survivors,
      "sketch(full) - sketch(subjects) != sketch(survivors)")
    assert(subtracted.values.forall(_ > 0L), "negative bucket after erase")
    // (d) the store contract: a delta value outside the pinned grid
    // clamps into an edge bucket instead of inventing a new one
    val g = histGeom.collect()(0)
    val (lo, hi) = (g.getDouble(0), g.getDouble(1))
    import spark.implicits._
    val drifted = counters(Extras.qsHist(
      Seq(lo - 1000.0, hi + 1000.0).toDF("x"), histGeom))
    assert(drifted == Map(0L -> 1L, (Extras.QsBuckets - 1).toLong -> 1L),
      s"out-of-grid deltas must land in buckets 0/${Extras.QsBuckets - 1}")
  }
}
