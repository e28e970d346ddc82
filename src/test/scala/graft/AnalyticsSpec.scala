package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.queries.{Analytics, Relational}

/** Engine-side invariants for the product-analytics trio (funnel,
  * retention, churn) that the DuckDB oracle verifies only pointwise:
  * the cross-query conservation laws at sf0.001.
  */
class AnalyticsSpec extends SparkSpec {

  private def totalUsers: Long =
    Tables.events(spark, sf).select(col("user_id")).distinct().count()

  test("linear attribution: exact split replay; credit conserves revenue to the cent") {
    val rows = Analytics.qAttributionLinear(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val touches = ev.filter(e => e._3 == "click" || e._3 == "view")
    val W = 7L * 86400000000L
    val credits = ev.filter(_._3 == "purchase").flatMap {
      case (convId, u, _, cents, p) =>
        val qual = touches.filter(t => t._2 == u && t._5 <= p &&
          t._5 > p - W).sortBy(t => (t._5, t._1))
        if (qual.isEmpty) Seq(("direct", convId, cents))
        else {
          val n = qual.length
          qual.zipWithIndex.toSeq.map { case (t, i) =>
            (t._3, convId, cents / n + (if (i < cents % n) 1L else 0L)) }
        }
    }
    val expect = credits.groupBy(_._1).map { case (ch, xs) =>
      ch -> (xs.length.toLong, xs.map(_._2).distinct.length.toLong,
        xs.map(_._3).sum) }
    assert(rows == expect)
    // conservation to the cent: split credit sums to total purchase value,
    // which is also what last-touch attribution hands out
    val totalCents = ev.filter(_._3 == "purchase").map(_._4).sum
    assert(rows.values.map(_._3).sum == totalCents)
    val lastTouch = Analytics.qAttribution(spark, sf).collect()
      .map(_.getLong(2)).sum
    assert(lastTouch == totalCents)
  }

  test("time travel: each snapshot equals a latest-event-as-of replay; users conserved") {
    val rows = Analytics.qTimeTravel(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val (lo, hi) = (ev.map(_._5).min, ev.map(_._5).max)
    val cuts = (1L to 3L).map(k => k -> (lo + (hi - lo) * k / 4)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (k, snap) =>
      val cut = cuts(k)
      assert(snap.head.getLong(1) == cut, s"cut_us for $k")
      // driver replay: per user, the latest (t, event_id)-ordered event
      // at or before the cut defines the state
      val state = ev.filter(_._5 <= cut).groupBy(_._1).toSeq.map {
        case (_, es) =>
          val last = es.maxBy(e => (e._5, e._2)); (last._3, last._4)
      }
      val expect = state.groupBy(_._1).map { case (t, xs) =>
        t -> (xs.size.toLong, xs.map(_._2).sum) }
      val got = snap.map(r => r.getString(2) -> (r.getLong(3), r.getLong(4)))
        .toMap
      assert(got == expect, s"snapshot $k")
      // conservation: every user seen by the cut is in exactly one state
      assert(snap.map(_.getLong(3)).sum ==
        ev.filter(_._5 <= cut).map(_._1).distinct.length.toLong)
    }
    // snapshots are cumulative in population: later cuts see >= users
    val perCut = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum)
    assert(perCut(1L) <= perCut(2L) && perCut(2L) <= perCut(3L))
  }

  test("cdc net changes equal a two-snapshot replay and conserve the time-travel totals") {
    val rows = Analytics.qCdcNetChanges(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val (lo, hi) = (ev.map(_._5).min, ev.map(_._5).max)
    def stateAt(cut: Long): Map[Long, (String, Long)] =
      ev.filter(_._5 <= cut).groupBy(_._1).map { case (u, es) =>
        val last = es.maxBy(e => (e._5, e._2)); u -> (last._3, last._4)
      }
    val (s1, s2) = (stateAt(lo + (hi - lo) / 4), stateAt(lo + (hi - lo) * 3 / 4))
    val expect = s2.toSeq.map { case (u, (t2, c2)) =>
      s1.get(u) match {
        case None => ("added", "__none__", t2, 0L, c2)
        case Some((t1, c1)) if t1 == t2 && c1 == c2 =>
          ("unchanged", t1, t2, c1, c2)
        case Some((t1, c1)) => ("changed", t1, t2, c1, c2)
      }
    }.groupBy(x => (x._1, x._2, x._3)).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(_._4).sum, xs.map(_._5).sum) }
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
      (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
    // conservation vs q_time_travel: the after-side mass per to_type at
    // cut 3 must equal the snapshot query's per-type rollup
    val tt = Analytics.qTimeTravel(spark, sf).collect()
      .filter(_.getLong(0) == 3L)
      .map(r => r.getString(2) -> (r.getLong(3), r.getLong(4))).toMap
    val byTo = rows.groupBy(_.getString(2)).view.mapValues(rs =>
      (rs.map(_.getLong(3)).sum, rs.map(_.getLong(5)).sum))
    byTo.foreach { case (t, v) => assert(tt(t) == v, s"to_type $t") }
  }

  test("event-pattern CEP equals a driver-side automaton replay per user") {
    val rows = Analytics.qEventPattern(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expect = ev.groupBy(_._1).flatMap { case (u, es) =>
      var lastV = Option.empty[Long]
      var lastE = Option.empty[Long]
      var nP = 0L; var nM = 0L; var firstM = -1L
      es.sortBy(e => (e._3, e._4)).foreach { case (_, typ, t, _) =>
        if (typ == "purchase") {
          nP += 1
          val ok = lastV.exists(v => lastE.forall(_ < v) &&
            t - v <= 3600000000L)
          if (ok) { nM += 1; if (firstM < 0) firstM = t }
        }
        // state update AFTER classification: the window frame is strictly
        // 1 PRECEDING, so an event never matches itself
        if (typ == "view") lastV = Some(t)
        if (typ == "error") lastE = Some(t)
      }
      if (nP > 0) Some(u -> (nP, nM, firstM)) else None
    }
    assert(rows.keySet == expect.keySet)
    expect.foreach { case (u, t) => assert(rows(u) == t, s"user $u") }
    // the fixture exercises both outcomes
    assert(rows.values.exists(_._2 > 0) && rows.values.exists(v => v._2 < v._1),
      "need at least one matched and one unmatched purchase")
  }

  test("poisson bootstrap: resamples replay exactly and the CI brackets the point") {
    val rows = Analytics.qBootstrapCi(spark, sf).collect()
    val res = rows.filter(_.getString(0) == "resample")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(res.size == 64)
    val purch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val thr = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
    def h32(sv: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
    val expMeans = (0L until 64L).map { b =>
      var n = 0L; var sc = 0L
      purch.foreach { case (id, cents) =>
        val u = h32(s"$id:$b") % 1000000L
        val w = thr.count(u >= _).toLong
        n += w; sc += w * cents
      }
      b -> (n, sc, if (n > 0) sc * 1000 / n else -1L)
    }.toMap
    expMeans.foreach { case (b, t) => assert(res(b) == t, s"resample $b") }
    // poisson concentration: every resample size within 25% of n
    val n = purch.length.toLong
    res.values.foreach { case (ne, _, _) =>
      assert(math.abs(ne - n) <= n / 4, s"n_eff $ne vs n $n") }
    // nearest-rank CI rows are ranks 2 and 63 of the sorted means and
    // bracket the full-sample point estimate on this fixture
    val sortedMeans = expMeans.toSeq.map { case (b, (_, _, m)) => (m, b) }
      .sorted.map(_._1)
    val lo = rows.find(_.getString(0) == "ci_lo").get.getLong(4)
    val hi = rows.find(_.getString(0) == "ci_hi").get.getLong(4)
    assert(lo == sortedMeans(1) && hi == sortedMeans(62))
    val point = rows.find(_.getString(0) == "point").get.getLong(4)
    assert(point == purch.map(_._2).sum * 1000 / n)
    assert(lo <= point && point <= hi)
  }

  test("bootstrap median: weighted lower medians replay exactly; CI brackets the point") {
    val rows = Analytics.qBootstrapMedian(spark, sf).collect()
    val res = rows.filter(_.getString(0) == "resample")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(res.size == 64)
    val purch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val thr = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
    def h32(sv: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
    def lowerMedian(weighted: Seq[(Long, Long)]): (Long, Long) = {
      val tot = weighted.map(_._2).sum
      var cw = 0L
      val m = weighted.sortBy(_._1).collectFirst {
        case (c, w) if { cw += w; cw * 2 >= tot } => c
      }.get
      (m, tot)
    }
    (0L until 64L).foreach { b =>
      val weighted = purch.map { case (id, c) =>
        (c, thr.count(h32(s"$id:$b") % 1000000L >= _).toLong)
      }.filter(_._2 > 0).groupBy(_._1).toSeq
        .map { case (c, xs) => (c, xs.map(_._2).sum) }
      val (m, tot) = lowerMedian(weighted)
      assert(res(b) == ((tot, m)), s"resample $b")
    }
    // point row is the exact lower median at weight 1
    val point = rows.find(_.getString(0) == "point").get
    val (pm, pn) = lowerMedian(purch.map(p => (p._2, 1L))
      .groupBy(_._1).toSeq.map { case (c, xs) => (c, xs.size.toLong) })
      match { case (m, t) => (m, t) }
    assert(point.getLong(3) == pm && point.getLong(2) == pn)
    // nearest-rank CI rows bracket the point on this fixture
    val sortedMeds = res.toSeq.map { case (b, (_, m)) => (m, b) }.sorted.map(_._1)
    val lo = rows.find(_.getString(0) == "ci_lo").get.getLong(3)
    val hi = rows.find(_.getString(0) == "ci_hi").get.getLong(3)
    assert(lo == sortedMeds(1) && hi == sortedMeds(62))
    assert(lo <= pm && pm <= hi)
  }

  test("funnel stages are monotone and bounded by the user population") {
    val stages = Relational.qFunnel(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stages.keySet == Set(1, 2, 3))
    assert(stages(1) >= stages(2) && stages(2) >= stages(3),
      s"funnel must narrow: $stages")
    assert(stages(1) <= totalUsers)
    assert(stages(3) > 0, "fixture should convert someone end-to-end")
  }

  test("retention week-0 cohort sizes sum to the user population") {
    val rows = Relational.qRetention(spark, sf).collect()
    assert(rows.forall(_.getLong(1) >= 0), "negative week offset")
    // every user is active in their own first week, exactly once
    val week0 = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(week0 == totalUsers, s"week-0 actives $week0 != users $totalUsers")
    // no cohort-week cell can exceed its cohort's week-0 size
    val cohort0 = rows.filter(_.getLong(1) == 0L)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) <= cohort0(r.getString(0)),
        s"cell exceeds cohort size: $r")
    }
  }

  test("churn totals are consistent with weekly activity") {
    val churn = Relational.qChurn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val anchorless = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val dMin = anchorless.agg(min(col("d"))).collect()(0).getDate(0)
    val uw = anchorless
      .select(col("user_id"), floor(datediff(col("d"), lit(dMin)) / 7).as("wk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byWeek = uw.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val lastWeek = byWeek.keys.max
    // recompute churn directly and compare exactly
    byWeek.foreach { case (wk, users) =>
      val next = byWeek.getOrElse(wk + 1, Set.empty[Long])
      val expected = (users -- next).size.toLong
      assert(churn.getOrElse(wk, 0L) == expected,
        s"week $wk: churn ${churn.get(wk)} != recomputed $expected")
    }
    assert(churn.getOrElse(lastWeek, 0L) == byWeek(lastWeek).size.toLong,
      "final week must be fully churned by contract")
  }

  test("bloom runtime-filter plan equals the direct semi join, with real pruning") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val direct = li
      .join(Analytics.highValueKeys(spark, sf),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"))
    val got = Analytics.qBloomSemi(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = direct.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, "bloom-pruned plan diverged from the direct semi join")
    assert(got.nonEmpty)
    // the filter's two load-bearing properties, asserted separately:
    val candidates = Analytics.bloomCandidates(spark, sf)
      .as[Long].collect().toSet
    val trueKeys = li.select(col("l_orderkey")).distinct()
      .join(Analytics.highValueKeys(spark, sf),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .as[Long].collect().toSet
    assert(trueKeys.subsetOf(candidates),
      "a Bloom filter must never drop a member (false negative)")
    val probeTotal = li.select(col("l_orderkey")).distinct().count()
    assert(candidates.size < probeTotal,
      s"bloom pruned nothing: ${candidates.size} of $probeTotal keys survive")
  }

  test("bloom store: OR-merge equals a from-scratch build; a shared bit " +
      "witnesses why bit-clearing erase would drop a survivor") {
    val root = Analytics.bloomStoreDir(spark, sf)
    val keys = Analytics.highValueKeys(spark, sf)
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (a) the store holds the historical wave's bits exactly
    val stored = bits(spark.read.parquet(s"$root/bits_hist.parquet"))
    val wantHist = bits(Analytics.bloomBits(
      keys.filter(pmod(col("o_orderkey"), lit(4)) =!= 3)
        .select(col("o_orderkey").as("k"))))
    assert(stored == wantHist, "store != historical-wave bloom bits")
    // (b) monoid merge: the query's own one-pass fold of store ∨ delta
    // cells == full build, bit for bit
    val deltaKeys = keys.filter(pmod(col("o_orderkey"), lit(4)) === 3)
      .select(col("o_orderkey").as("k"))
    assert(!deltaKeys.isEmpty, "delta wave empty: merge untested")
    val merged = bits(Analytics.bloomMerge(
      spark.read.parquet(s"$root/bits_hist.parquet"), deltaKeys))
    val full = bits(Analytics.bloomBits(keys.select(col("o_orderkey").as("k"))))
    assert(merged == full, "bloomMerge(store, delta) != full-build bits")
    assert(merged != stored, "delta added no bit: merge untested")
    // (c) non-invertibility witness: two DIFFERENT keys colliding on a
    // bit cell, so clearing one key's bits would clear the other's — a
    // false negative, the one failure a Bloom filter must never
    // produce. Erase must rebuild. The pair is found deterministically
    // from the same md5 h32 math the filter runs (the fixture's ~600
    // set bits in 65536 make a fixture-level collision a coin flip, so
    // the witness is engineered, not hoped for).
    def cells(key: Long): Set[Long] = (0 until 3).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"b$i:$key".getBytes("UTF-8")).take(4)
        .foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xFF))
      md % 65536
    }.toSet
    val pair = (for {
      a <- (1L to 500L).iterator
      b <- (a + 1) to 500L
      if cells(a).intersect(cells(b)).nonEmpty
    } yield (a, b)).next()
    import spark.implicits._
    val bitsA = bits(Analytics.bloomBits(Seq(pair._1).toDF("k")))
    val bitsB = bits(Analytics.bloomBits(Seq(pair._2).toDF("k")))
    val shared = bitsA.exists { case (idx, b) =>
      (b & bitsB.getOrElse(idx, 0L)) != 0L }
    assert(shared, s"keys $pair must share a bloom bit cell " +
      "(driver-side md5 math diverged from the bloomBits spelling)")
    // and the served rung answers exactly like the direct filter rung
    assert(Analytics.qBloomIncremental(spark, sf).collect().toSeq ==
      Analytics.qBloomSemi(spark, sf).collect().toSeq,
      "store-merged filter diverged from the in-plan filter")
    assert(Analytics.qBloomIncremental(spark, sf).inputFiles.exists(f =>
      f.contains("bloomstore") && f.contains("bits_hist")),
      "plan must scan the bloom store artifact")
  }

  test("bm25 ranking is a descending top-10 with positive scores") {
    val rows = Analytics.qBm25Top(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 10)
    assert(rows.sliding(2).forall { case Array((_, a), (_, b)) => a >= b },
      "bm25 scores must be non-increasing")
    assert(rows.forall(_._2 > 0.0), "3 highest-df query terms ⇒ positive scores")
  }

  test("rfm scores are quintiles and rfm_cell is their digit encoding") {
    val rows = Analytics.qRfm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getInt(4), r.getInt(5), r.getInt(6))
      assert((1 to 5).contains(rs) && (1 to 5).contains(fs)
        && (1 to 5).contains(ms), s"score out of quintile range: $r")
      assert(r.getInt(8) == rs * 100 + fs * 10 + ms, s"rfm_cell mismatch: $r")
      val pct = r.getDouble(7)
      assert(pct >= 0.0 && pct <= 1.0)
    }
    // ntile(5) balance: bucket sizes differ by at most 1
    val sizes = rows.groupBy(_.getInt(6)).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"ntile buckets unbalanced: $sizes")
  }

  test("stratified sample takes exactly ceil(20%) of every language stratum") {
    val perLang = Tables.documents(spark, sf).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sample = Analytics.qStratifiedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val got = sample.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    perLang.foreach { case (lang, n) =>
      val quota = (n + 4) / 5
      assert(got.getOrElse(lang, 0L) == quota,
        s"$lang: sampled ${got.getOrElse(lang, 0L)}, want $quota of $n")
    }
    assert(got.keySet == perLang.keySet)
  }

  test("sessionize: exact-gap pause continues a session, gap+1us starts one") {
    import spark.implicits._
    val gap = 1800000000L // 30 min in us
    val ev = Seq(
      // user 1: second event exactly `gap` later (same session), third
      // event gap+1us after that (new session), fourth right after (same)
      ("u1", 1L, "view", 0L),
      ("u1", 2L, "click", gap),
      ("u1", 3L, "purchase", 2 * gap + 1),
      ("u1", 4L, "view", 2 * gap + 2),
      // user 2: one lone event → one 1-event session of zero duration
      ("u2", 5L, "purchase", 42L)
    ).toDF("user_id", "event_id", "event_type", "t_us")
    val out = Analytics.sessionize(ev, gap).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(out.keySet == Set("u1" -> 1L, "u1" -> 2L, "u2" -> 1L))
    assert(out("u1" -> 1L) == (2L, 0L, gap, gap, 0L),
      "exact-gap event must stay in session 1")
    assert(out("u1" -> 2L) == (2L, 2 * gap + 1, 2 * gap + 2, 1L, 1L),
      "gap+1us must open session 2, containing the purchase")
    assert(out("u2" -> 1L) == (1L, 42L, 42L, 0L, 1L))
  }

  test("scd2: versions tile each user's timeline and cover every event") {
    val highDate = 253402300799000000L
    val versions = Analytics.qScd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getInt(5)))
    val byUser = versions.groupBy(_._1)
    byUser.foreach { case (u, vs) =>
      val sorted = vs.sortBy(_._6)
      assert(sorted.map(_._6).toSeq == (1 to vs.length), s"u$u: dense versions")
      assert(sorted.count(_._5) == 1 && sorted.last._5,
        s"u$u: exactly the last version is current")
      assert(sorted.last._4 == highDate, s"u$u: open version ends at high-date")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"u$u: v${a._6}→v${b._6} must tile (no gap/overlap)")
          assert(a._2 != b._2, s"u$u: consecutive versions must change type")
        case _ =>
      }
    }
    // every event falls inside the [from, to) interval carrying its type
    val events = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    events.foreach { case (u, t, typ) =>
      val cover = byUser(u).filter(v => v._3 <= t && t < v._4)
      assert(cover.length == 1, s"u$u t=$t: exactly one covering version")
      assert(cover.head._2 == typ,
        s"u$u t=$t: covering version type ${cover.head._2} != event type $typ")
    }
  }

  test("autocorr equals a local Pearson recompute of the daily series") {
    val got = Analytics.qAutocorr(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1, 7))
    val daily = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- Seq(1, 7)) {
      val pairs = daily.toSeq.flatMap { case (d, x) =>
        daily.get(d - k).map(y => (BigInt(x), BigInt(y)))
      }
      val n = BigInt(pairs.length)
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val want = (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble))
      val (nGot, r) = got(k)
      assert(nGot == pairs.length.toLong, s"lag $k pair count")
      assert(math.abs(r - want) < 1e-6, s"lag $k: $r vs local $want")
      assert(r >= -1.0 && r <= 1.0)
    }
  }

  test("markov transitions: rows normalize to 1, transitions conserve events") {
    val rows = Analytics.qMarkovTransition(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // each from-row's probabilities sum to 1 (within rounding of 6dp × rows)
    rows.groupBy(_._1).foreach { case (from, rs) =>
      val psum = rs.map(_._4).sum
      assert(math.abs(psum - 1.0) < 1e-4, s"$from: row sums to $psum")
      rs.foreach { case (_, _, n, p) =>
        val total = rs.map(_._3).sum
        assert(math.abs(p - n.toDouble / total) < 1e-6)
      }
    }
    // every user with k events contributes exactly k-1 transitions
    val nTransitions = rows.map(_._3).sum
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(_.getLong(1))
    assert(nTransitions == perUser.map(_ - 1).sum,
      "transition count must equal sum(events_per_user - 1)")
  }

  test("revenue concentration equals a local sorted top-decile recompute") {
    val got = Analytics.qRevenueConcentration(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val rows = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("c_custkey"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val bySeg = rows.groupBy(_._1)
    assert(got.keySet == bySeg.keySet)
    bySeg.foreach { case (seg, rs) =>
      val perCust = rs.groupBy(_._2).view
        .mapValues(_.map(t => math.round(t._3 * 100)).sum).toMap
      val sorted = perCust.toSeq.sortBy { case (ck, c) => (-c, ck) }
      val k = (sorted.length + 9) / 10
      val total = sorted.map(_._2).sum
      val top = sorted.take(k).map(_._2).sum
      val (n, topK, totC, topC, share) = got(seg)
      assert(n == sorted.length.toLong, s"$seg n_cust")
      assert(topK == k.toLong, s"$seg top_k")
      assert(totC == total, s"$seg total_cents")
      assert(topC == top, s"$seg top_cents")
      assert(math.abs(share - top.toDouble / total) < 1e-6, s"$seg share")
      assert(share > k.toDouble / sorted.length,
        s"$seg: top decile must be over-proportional")
    }
  }

  test("ab test equals a local two-proportion z-test recompute") {
    val r = Analytics.qAbTest(spark, sf).collect()(0)
    val perUser = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90.0,
        1L).otherwise(0L)).as("conv"))
      .collect().map(x => (x.getLong(0) % 2, x.getLong(1)))
    val n0 = perUser.count(_._1 == 0).toLong
    val c0 = perUser.filter(_._1 == 0).map(_._2).sum
    val n1 = perUser.count(_._1 == 1).toLong
    val c1 = perUser.filter(_._1 == 1).map(_._2).sum
    assert((r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
      == ((n0, c0, n1, c1)))
    val (p0, p1) = (c0.toDouble / n0, c1.toDouble / n1)
    val pp = (c0 + c1).toDouble / (n0 + n1)
    assert(math.abs(r.getDouble(2) - p0) < 1e-6 && math.abs(r.getDouble(5) - p1) < 1e-6)
    if (c0 + c1 > 0 && c0 + c1 < n0 + n1) {
      val z = (p1 - p0) / math.sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
      assert(math.abs(r.getDouble(7) - z) < 1e-6, s"z ${r.getDouble(7)} vs $z")
    } else assert(r.isNullAt(7), "degenerate conversion must yield NULL z")
  }

  test("rolling 7-day distinct matches a local window recompute") {
    val got = Analytics.qRollingDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct
    val expected = days.map { d =>
      d.toString -> ud.filter { case (_, ad) =>
        !ad.isAfter(d) && !ad.isBefore(d.minusDays(6))
      }.map(_._1).distinct.size.toLong
    }.toMap
    assert(got == expected, s"rolling distinct mismatch: $got vs $expected")
    // non-vacuity: the window must actually widen some day's count
    val daily = ud.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toMap
    assert(days.exists(d => got(d.toString) > daily(d).toLong),
      "7-day window never exceeded single-day distinct — fixture too sparse")
  }

  test("RRF fusion: two genuinely different rankers, exact contributions, sane order") {
    val rows = Analytics.qHybridRrf(spark, sf).collect()
    assert(rows.length == 10)
    // every fused doc belongs to at least one ranker's truncated list
    rows.foreach(r => assert(!(r.isNullAt(1) && r.isNullAt(2)),
      s"doc ${r.getLong(0)} in neither list"))
    // non-vacuity: BM25 (length-normalized) and raw tf must disagree
    // somewhere on this fixture, else the fusion tests nothing
    assert(rows.exists(r => r.isNullAt(1) != r.isNullAt(2)) ||
      rows.exists(r => !r.isNullAt(1) && !r.isNullAt(2) && r.getInt(1) != r.getInt(2)),
      "BM25 and raw-tf rankings identical — fusion vacuous")
    // reported rrf equals the quantized-contribution recompute, and the
    // list is ordered by the fused quantized score descending
    val fused = rows.map { r =>
      def c(i: Int): Long =
        if (r.isNullAt(i)) 0L else math.round(1e9 / (r.getInt(i) + 60.0))
      val q = c(1) + c(2)
      assert(math.abs(r.getDouble(3) - q / 1e9) < 5e-7,
        s"doc ${r.getLong(0)} rrf ${r.getDouble(3)} != recompute ${q / 1e9}")
      q
    }
    assert(fused.sameElements(fused.sortBy(-_)), "not ordered by fused score")
  }

  test("HLL rolling-distinct twin agrees with the exact twin day for day") {
    val exact = Analytics.qRollingDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Analytics.qRollingDistinctApprox(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx.keySet == exact.keySet, "day sets must match")
    // m=256 deterministic HLL (graft.plans.HllDet): ±6.5% standard
    // error; measured fixture drift ≈ 4.2%. A broken union (e.g.
    // per-day registers not merging across the 7-day frame) lands far
    // outside ±10%.
    exact.foreach { case (day, n) =>
      val a = approx(day)
      assert(math.abs(a - n) / n <= 0.10, s"day=$day approx=$a exact=$n")
    }
  }

  test("incremental HLL store: post-cutoff rows equal the in-plan twin; store holds only pre-cutoff days; plan reads the register artifact") {
    import org.apache.spark.sql.functions._
    val inc = Analytics.qHllIncremental(spark, sf)
    val rows = inc.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty)
    // (a) store ∪ delta == full recompute, row for row on the new days
    val cut = graft.io.Tables.events(spark, sf)
      .agg(date_format(date_add(min(to_date(col("ts"))), 21), "yyyy-MM-dd"))
      .collect()(0).getString(0)
    val full = Analytics.qRollingDistinctApprox(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
      .filter(_._1 >= cut)
    assert(rows == full,
      s"incremental != full recompute: extra=${rows.toSet -- full.toSet}")
    // (b) the persisted snapshot holds only pre-cutoff days
    val root = Analytics.hllRegisterStoreDir(spark, sf)
    val storedDays = spark.read.parquet(s"$root/day_registers.parquet")
      .select(date_format(col("day"), "yyyy-MM-dd")).collect()
      .map(_.getString(0))
    assert(storedDays.nonEmpty && storedDays.forall(_ < cut),
      "register store leaked post-cutoff days")
    // (c) the plan consumes the artifact (historical registers are READ,
    // not recomputed)
    val regFiles = inc.inputFiles.filter(_.contains("day_registers"))
    assert(regFiles.nonEmpty, "plan must scan the persisted register store")
  }

  test("HLL overlap: sketch union exact over sketches; inclusion-exclusion error contract; week-day edge; store face consistent with rolling twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // engineered PARTIAL overlap (the fixture's 150 users are all active
    // every week, so the store alone cannot distinguish A∩B from A∪B):
    // week-1 audience = users 0..99 (day 1), week-2 = 50..149 (day 8) —
    // true prev=100, cur=100, union=150, overlap=50
    def evOf(users: Range, day: String) =
      users.map(u => (s"$day 00:00:00", u.toLong)).toDF("ts_s", "user_id")
        .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"))
    val store = graft.streaming.Windows.hllDayRegisters(
      evOf(0 until 100, "2024-01-01").unionByName(evOf(50 until 150, "2024-01-08")))
    val rows = Analytics.hllOverlapFrom(store).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (p, c, u, o) = rows("2024-01-08")
    // (a) union via elementwise max is EXACT over sketches: the unioned
    // registers estimate exactly what one sketch of the unioned
    // population estimates
    val uAll = graft.streaming.Windows.hllDayRegisters(
      evOf(0 until 150, "2024-01-01"))
      .select(graft.plans.HllDet.estimate(col("regs"))).collect()(0).getDouble(0)
    assert(u == uAll, s"sketch-union estimate $u != union-sketch estimate $uAll")
    // (b) each weekly estimate inside the m=256 band (±6.5% σ; 2σ gate —
    // the deterministic week-1 draw sits at +10.9%, i.e. 1.7σ)
    assert(math.abs(p - 100) / 100 <= 0.13 && math.abs(c - 100) / 100 <= 0.13,
      s"weekly estimates out of band: prev=$p cur=$c")
    // (c) the inclusion-exclusion ERROR CONTRACT: intersection is an
    // estimate-of-estimates whose absolute error scales with the UNION
    // size (the documented caveat) — gate at 15% of the true union
    assert(math.abs(o - 50.0) <= 0.15 * 150, s"overlap_est=$o exact=50")
    // (d) a day with no previous week reports prev=0, overlap=0
    val d1 = rows("2024-01-01")
    assert(d1._1 == 0.0 && d1._4 == 0.0, s"empty prev window: $d1")
    // (e) store face: cur_7d IS the rolling twin's window math, row for
    // row on the store's days, and union never undercuts a side
    val ov = Analytics.qHllOverlap(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val roll = Analytics.qRollingDistinctApprox(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ov.nonEmpty)
    ov.foreach { case (d, (cur, un)) =>
      assert(cur == roll(d), s"cur_7d != rolling twin on $d")
      assert(un >= cur, s"union < cur on $d")
    }
  }

  test("HLL store erase: rebuild lowers a register no merge could (non-invertibility), serves only survivors, reads the erased artifact") {
    import org.apache.spark.sql.functions._
    val em = graft.queries.Ingest.ErasureMod
    val ev = graft.io.Tables.events(spark, sf).select(col("ts"), col("user_id"))
    // fixture must contain erasure subjects, or the verb proves nothing
    assert(ev.filter(col("user_id") % em === 0).count() > 0,
      s"fixture has no mod-$em users")
    val full = graft.streaming.Windows.hllDayRegisters(ev).collect()
      .map(r => r.getDate(0).toString -> r.getSeq[Int](1)).toMap
    val root = Analytics.hllErasedStoreDir(spark, sf)
    val erased = spark.read.parquet(s"$root/day_registers.parquet").collect()
      .map(r => r.getDate(0).toString -> r.getSeq[Int](1)).toMap
    assert(erased.keySet.subsetOf(full.keySet))
    // (a) rebuild can only LOWER registers (max over fewer members) —
    // and must lower at least one somewhere: evidence that no fold over
    // the OLD state could have produced the erased generation (max is
    // not invertible; a "subtract the subject" operator cannot exist)
    val drops = erased.map { case (d, regs) =>
      regs.zip(full(d)).count { case (e, f) => e < f }
    }.sum
    val raises = erased.map { case (d, regs) =>
      regs.zip(full(d)).count { case (e, f) => e > f }
    }.sum
    assert(raises == 0, "erased generation raised a register — rebuild broken")
    assert(drops > 0,
      "no register dropped: subjects contributed nothing, the verb is untested")
    // (b) the served metric reads the ERASED artifact specifically (the
    // unerased incremental store also writes a day_registers.parquet —
    // anchor on the erase generation's scratch prefix), and its rows
    // equal a survivors-only recompute, so a mis-wire to the unerased
    // store fails HERE, not only at the DuckDB gate
    val q = Analytics.qHllStoreErase(spark, sf)
    assert(q.inputFiles.exists(f =>
      f.contains("hllregerase") && f.contains("day_registers")),
      "plan must scan the erased register store generation")
    val got = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val survivors = graft.streaming.Windows.hllDayRegisters(
      ev.filter(col("user_id") % em =!= 0))
    val want = Analytics.rollingHllEstimate(survivors).orderBy("day").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want, "erased generation != survivors-only recompute")
  }

  test("incremental agg merge equals the one-pass recompute") {
    val merged = Analytics.qIncrementalAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val direct = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(merged.sameElements(direct), "merge-of-partials != recompute")
    // non-vacuity: the data-anchored cutoff must split the stream, or the
    // merge join is never exercised on a populated delta side
    val ev = Tables.events(spark, sf).select(to_date(col("ts")).as("d"))
    val cut = ev.agg(date_add(min(col("d")), 21)).collect()(0).getDate(0)
    val before = ev.filter(col("d") < lit(cut)).count()
    val after = ev.filter(col("d") >= lit(cut)).count()
    assert(before > 0 && after > 0,
      s"cutoff $cut leaves an empty side: snap=$before delta=$after")
  }

  test("CMS one-sided error: every estimate >= exact, ceiling eN/w holds, fixture shows real collisions") {
    val docs = Tables.documents(spark, sf)
    val counts = Analytics.cmsKeyCounts(docs)
    val est = Analytics.cmsEstimates(counts, Analytics.cmsSketch(counts))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.length > Analytics.CmsW,
      "key space must exceed the sketch width, or collisions prove nothing")
    // (a) structural guarantee: a cell sums the key's own count plus
    // non-negative collision mass, so min-over-rows never undercounts
    est.foreach { case (w, n, e) =>
      assert(e >= n, s"CMS undercounted '$w': est=$e exact=$n") }
    // (b) the classic ceiling est <= exact + (e/w)·N (deterministic
    // given the fixture + md5; measured max overcount 161 vs eN/w ~ 291)
    val total = est.map(_._2).sum
    val ceil = math.E * total / Analytics.CmsW
    est.foreach { case (w, n, e) =>
      assert(e - n <= ceil, s"'$w' overcount ${e - n} exceeds eN/w=$ceil") }
    // (c) non-vacuity: the 916-key fixture over 256 columns MUST
    // collide — a zero-overcount run means the hashing is broken
    assert(est.count { case (_, n, e) => e > n } > 0,
      "no overcounts: sketch wider than key space, contract untested")
    // (d) the streaming face's occurrence-level spelling builds the
    // identical grid (sums over occurrences == sums over (key, n))
    val occ = graft.streaming.Windows.cmsCounters(docs).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val twoStage = Analytics.cmsSketch(counts).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(occ == twoStage, "occurrence spelling != two-stage sketch")
  }

  test("CMS incremental: store + delta == full recompute at counter level, plan reads the store artifact") {
    val root = Analytics.cmsStoreDir(spark, sf)
    val docs = Tables.documents(spark, sf)
    val stored = spark.read.parquet(s"$root/sketch_hist.parquet")
    // the store holds ONLY the historical wave (mod-4 != 3 docs)
    val histCounters = Analytics.cmsSketch(Analytics.cmsKeyCounts(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 3)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val storedM = stored.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(storedM == histCounters, "store != historical-wave sketch")
    // merge linearity: store + delta == full, counter by counter
    val delta = Analytics.cmsSketch(Analytics.cmsKeyCounts(
        docs.filter(pmod(col("doc_id"), lit(4)) === 3)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fullM = Analytics.cmsSketch(Analytics.cmsKeyCounts(docs))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = (storedM.keySet ++ delta.keySet).map(k =>
      k -> (storedM.getOrElse(k, 0L) + delta.getOrElse(k, 0L))).toMap
    assert(merged == fullM, "store + delta != full-corpus counters")
    assert(delta.nonEmpty, "delta wave empty: merge untested")
    // the served rung reads the artifact and answers exactly like the
    // in-plan twin
    val q = Analytics.qCmsIncremental(spark, sf)
    assert(q.inputFiles.exists(f =>
      f.contains("cmsstore") && f.contains("sketch_hist")),
      "plan must scan the historical sketch store")
    val twin = Analytics.qCmsFreq(spark, sf).collect().toSeq
    assert(q.collect().toSeq == twin, "incremental != in-plan twin")
  }

  test("t-closeness EMD: global-shaped class reads 0, extreme concentration dominates, fixture is non-vacuous") {
    import spark.implicits._
    // domain {0,1,2}; class A mirrors the global SHAPE, class B piles
    // on one extreme. Global = A + B, so A is NOT exactly global —
    // engineer A so large that the global is A-dominated: A holds 90
    // rows spread 30/30/30, B holds 3 rows all at bucket 0
    val rows =
      (1 to 30).flatMap(_ => Seq(("A", 0L, 0L), ("A", 0L, 1L), ("A", 0L, 2L))) ++
      Seq(("B", 0L, 0L), ("B", 0L, 0L), ("B", 0L, 0L))
    val t = Analytics.tClosenessFrom(rows.toDF("seg", "nat", "b"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // B (all mass at the low extreme) must be far LESS close to the
    // global distribution than A (which tracks it to within B's tilt)
    assert(t("B") > 10 * t("A"), s"concentration must dominate: $t")
    // exact-zero check: a universe of ONE class is its own global
    val solo = Analytics.tClosenessFrom(
      Seq(("S", 0L, 0L), ("S", 0L, 1L), ("S", 0L, 2L)).toDF("seg", "nat", "b"))
      .collect()
    assert(solo.length == 1 && solo(0).getDouble(3) == 0.0,
      s"class identical to global must read t=0: ${solo.toSeq}")
    // fixture non-vacuity: some classes violate, most don't
    val r = Analytics.qTCloseness(spark, sf).collect()(0)
    val (groups, viol) = (r.getLong(1), r.getLong(2))
    assert(viol > 0 && viol < groups,
      s"threshold must split the fixture: $viol of $groups")
    // and the audit never flags more rows than exist
    assert(r.getLong(3) <= Tables.customer(spark, sf).count())
  }

  test("CMS join-size estimate: exact on a collision-free key, one-sided on the fixture") {
    import spark.implicits._
    // single shared key, no collisions: the inner product has exactly
    // one term nA·nB in every row, so min-over-rows must EQUAL exact
    val one = Analytics.cmsJoinSizeFrom(spark,
      Seq(("k", 5L)).toDF("word", "n"), Seq(("k", 3L)).toDF("word", "n"))
      .collect()(0)
    assert(one.getLong(0) == 15L && one.getLong(1) == 15L &&
      one.getLong(2) == 0L, s"single-key inner product must be exact: $one")
    // disjoint keys: exact 0; the estimate is pure collision mass, >= 0
    val dis = Analytics.cmsJoinSizeFrom(spark,
      Seq(("ka", 5L)).toDF("word", "n"), Seq(("kb", 3L)).toDF("word", "n"))
      .collect()(0)
    assert(dis.getLong(0) == 0L && dis.getLong(1) >= 0L,
      s"disjoint vectors: $dis")
    // fixture: the estimate never undercounts the true join size, and
    // the true size is nonzero (the case is non-vacuous)
    val r = Analytics.qCmsJoinSize(spark, sf).collect()(0)
    assert(r.getLong(0) > 0L, "fixture view x purchase join is empty")
    assert(r.getLong(1) >= r.getLong(0),
      s"join-size estimate undercounts: $r")
  }

  test("CMS erase by SUBTRACTION equals a from-scratch survivor rebuild (the verb HLL cannot have)") {
    val em = graft.queries.Ingest.ErasureMod
    val root = Analytics.cmsStoreDir(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(docs.filter(col("doc_id") % em === 0).count() > 0,
      s"fixture has no mod-$em docs")
    val fullM = spark.read.parquet(s"$root/sketch_full.parquet").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val subj = Analytics.cmsSketch(Analytics.cmsKeyCounts(
        docs.filter(col("doc_id") % em === 0)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // counter-level linearity: full − subjects ≡ survivors rebuilt from
    // scratch (zero cells drop) — sums form a GROUP, so subtraction is
    // exact; HLL's max-registers provably cannot do this
    // (AnalyticsSpec's HLL-erase test pins the rebuild-only doctrine)
    val subtracted = fullM.map { case (k, v) =>
      k -> (v - subj.getOrElse(k, 0L)) }.filter(_._2 != 0L)
    val rebuilt = Analytics.cmsSketch(Analytics.cmsKeyCounts(
        docs.filter(col("doc_id") % em =!= 0)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(subtracted == rebuilt, "subtraction != survivor rebuild")
    assert(subtracted.forall(_._2 > 0L),
      "negative counter after subtraction — subject sketch overshot")
    // non-vacuity: the subjects actually lowered at least one counter
    assert(subj.nonEmpty && subtracted != fullM.filter(_._2 != 0L),
      "subjects contributed nothing, the verb is untested")
    // the served rung reads the FULL store generation (subtraction needs
    // the unpruned counters) and serves only surviving candidates
    val q = Analytics.qCmsErase(spark, sf)
    assert(q.inputFiles.exists(f =>
      f.contains("cmsstore") && f.contains("sketch_full")),
      "plan must scan the full-corpus sketch store")
    val survCounts = Analytics.cmsKeyCounts(
      docs.filter(col("doc_id") % em =!= 0))
    val want = Analytics.cmsHeavyHitters(
      survCounts, Analytics.cmsSketch(survCounts)).collect().toSeq
    assert(q.collect().toSeq == want, "erase rung != rebuilt-sketch twin")
  }

  test("sessionize event totals are conserved at sf0.001") {
    val sessions = Analytics.qSessionize(spark, sf)
    val nEvents = Tables.events(spark, sf).count()
    val agg = sessions.agg(sum(col("n_events")), max(col("dur_us"))).collect()(0)
    assert(agg.getLong(0) == nEvents, "every event lands in exactly one session")
    assert(agg.getLong(1) >= 0)
    // session ids are dense 1..k per user
    val perUser = sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("k"), max(col("session_id")).as("mx"),
        min(col("session_id")).as("mn")).collect()
    perUser.foreach { r =>
      assert(r.getLong(3) == 1L && r.getLong(2) == r.getLong(1),
        s"session ids must be dense 1..k: $r")
    }
  }

  test("twap: burst-robust exact integral; plain avg provably disagrees") {
    import spark.implicits._
    def t(m: Int, sec: Int = 0) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:$sec%02d")
    // value 1.00 holds for 59 minutes, then a 10-event burst at 100.00
    // packed into the final minute: TWAP ≈ 1.xx, plain avg ≈ 84
    val burst = (0 until 10).map(i => ("load", 100L + i, t(59, i * 6), 100.0))
    val ev = (Seq(("load", 1L, t(0), 1.0)) ++ burst)
      .toDF("event_type", "event_id", "ts", "value")
    val r = Analytics.twap(ev).collect()(0)
    val (n, span, twapCents) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n == 10, "10 intervals from 11 observations")
    assert(span == 59L * 60 * 1000000 + 9L * 6 * 1000000)
    // exact integral: 100 cents * 59 min + 10000 cents * 54 s, floor-div
    val expect = (100L * 59 * 60 * 1000000 + 10000L * 54 * 1000000) / span
    assert(twapCents == expect, s"twap $twapCents != $expect")
    assert(twapCents < 300, "time weighting must suppress the burst")
    // fixture: TWAP and the naive mean must genuinely differ somewhere
    val fx = Analytics.qTwap(spark, sf).collect()
      .map(r2 => (r2.getString(0), r2.getLong(1)) -> r2.getLong(4)).toMap
    assert(fx.nonEmpty)
    val naive = Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "day")
      .agg(expr("sum(cents) div count(1)").as("avg_cents")).collect()
      .map(r2 => (r2.getString(0), r2.getLong(1)) -> r2.getLong(2)).toMap
    assert(fx.keys.exists(k => naive.get(k).exists(_ != fx(k))),
      "on an irregular series TWAP must diverge from the plain mean somewhere")
  }

  test("peak concurrency: exact on hand-built overlaps, bounded at fixture") {
    import spark.implicits._
    def t(h: Int, m: Int = 0, us: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00.${us}%06d")
    // u1 08:00-12:00, u2 10:00-14:00, u3 11:00-11:30 -> 3 live at 11:00
    // u4 ends EXACTLY when u5 starts (15:00) -> inclusive: both live -> 2
    // u6 single event at 20:00 -> its own peak of 1 there
    val ev = Seq(
      (1L, t(8)), (1L, t(12)), (2L, t(10)), (2L, t(14)), (3L, t(11)), (3L, t(11, 30)),
      (4L, t(14, 30)), (4L, t(15)), (5L, t(15)), (5L, t(16)),
      (6L, t(20))
    ).toDF("user_id", "ts")
    val got = Analytics.peakConcurrency(ev).collect()
    assert(got.length == 1)
    assert(got(0).getLong(1) == 6L, "six (user, day) intervals")
    assert(got(0).getLong(2) == 3L, s"peak must be 3 (u1+u2+u3 at 11:00), got ${got(0).getLong(2)}")
    // shared-instant inclusivity in isolation: drop u1..u3 and u6
    val got2 = Analytics.peakConcurrency(ev.filter(col("user_id").isin(4L, 5L))).collect()
    assert(got2(0).getLong(2) == 2L, "a handoff at the same instant counts both")
    // fixture bounds: 1 <= peak <= intervals, days complete
    val fx = Analytics.qPeakConcurrency(spark, sf).collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1),
        s"day ${r.getLong(0)}: peak out of [1, n_intervals]")
    }
  }

  test("assoc rules: mirrored pairs, support bounds, symmetric lift") {
    val rows = Analytics.qAssocRules(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val byDir = rows.map(r => (r._1, r._2) -> r).toMap
    rows.foreach { case (a, b, nab, na, nb, conf, lift) =>
      assert(nab >= 3, "support floor")
      assert(nab <= math.min(na, nb), "joint count exceeds a marginal")
      assert(conf > 0 && conf <= 1.0, s"confidence out of range: $conf")
      assert(lift > 0)
      // the mirrored rule exists with swapped margins and the SAME lift
      val m = byDir((b, a))
      assert(m._3 == nab && m._4 == nb && m._5 == na, s"mirror of ($a,$b) broken")
      assert(math.abs(m._7 - lift) < 1e-9, "lift must be direction-free")
    }
    // independent recompute of one rule from raw baskets
    val (a, b, nab, na, _, conf, _) = rows.maxBy(_._6)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val oa = li.filter(col("p") === a).select("o").collect().map(_.getLong(0)).toSet
    val ob = li.filter(col("p") === b).select("o").collect().map(_.getLong(0)).toSet
    assert(na == oa.size && nab == (oa intersect ob).size)
    assert(math.abs(conf - math.round(nab.toDouble / na * 1e6) / 1e6) < 1e-12)
  }

  test("chi-square matches a driver-side float recompute; margins conserve") {
    val r = Analytics.qChiSquare(spark, sf).collect()(0)
    val (nObs, nCells, nSegs, nPrios, dof, chi2Micros) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val joined = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
    assert(nObs == joined.count(), "every joined order lands in one cell")
    assert(dof == (nSegs - 1) * (nPrios - 1) && nCells <= nSegs * nPrios)
    // independent float recompute of the statistic from raw cell counts
    val cells = joined.groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .count().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val rowM = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val colM = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val n = cells.map(_._3).sum.toDouble
    val chi2 = cells.map { case (s2, p, c) =>
      val e = rowM(s2) * colM(p) / n
      (c - e) * (c - e) / e
    }.sum
    assert(math.abs(chi2Micros / 1e6 - chi2) < 1e-3,
      s"chi2 ${chi2Micros / 1e6} != recompute $chi2")
  }

  test("ewma equals an independent BigInt recompute; stays inside the frame hull") {
    val rows = Analytics.qEwma(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted), "day-ordered")
    // independent recompute over the CALENDAR frame [day−20, day]:
    // Σ x_d·2^(20−(day−d)) DIV Σ 2^(20−(day−d)) in BigInt (driver-side,
    // test-only) — weights keyed on day deltas, not row offsets
    val series = rows.map(r => r._1 -> r._2)
    rows.foreach { case (day, _, nTerms, ewma) =>
      val frame = series.filter { case (d, _) => d >= day - 20 && d <= day }
      assert(nTerms == frame.length, s"day $day n_terms")
      val numer = frame.map { case (d, x) =>
        BigInt(x) << (20 - (day - d).toInt) }.sum
      val mass = frame.map { case (d, _) =>
        BigInt(1) << (20 - (day - d).toInt) }.sum
      assert(BigInt(ewma) == numer / mass, s"day $day: $ewma != $numer/$mass")
      // a weighted average (up to the floor) never leaves the frame hull
      val vals = frame.map(_._2)
      assert(ewma >= vals.min - 1 && ewma <= vals.max,
        s"day $day: ewma $ewma outside [${vals.min}, ${vals.max}]")
    }
  }

  test("ewma decay is keyed on calendar-day deltas, not row offsets") {
    import spark.implicits._
    // days 0, 1, 3 — the gap means day 1 is TWO days old at day 3. A
    // ROWS frame would weight it 2^-1 (previous row); calendar decay
    // weighs it 2^-2.
    val got = Analytics.ewma(
        Seq((0L, 1000L), (1L, 2000L), (3L, 4000L)).toDF("day", "rev_cents"))
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(got(0L) == ((1, 1000L)))
    // day 1: (1000·2^19 + 2000·2^20) / (2^19 + 2^20) = 5000/3 floor
    assert(got(1L) == ((2, 5000L / 3)))
    // day 3: deltas 3,2,0 → (1000·2^17 + 2000·2^18 + 4000·2^20) /
    // (2^17 + 2^18 + 2^20) = (1000 + 4000 + 32000)/11 = 37000/11 floor
    assert(got(3L) == ((3, 37000L / 11)),
      s"gapped decay must be 2^-delta: ${got(3L)}")
  }

  test("gini: closed-form on uniform and single-holder, bounded at fixture") {
    import spark.implicits._
    val uniform = (1L to 40L).map(u => ("U", u, 500L)).toDF("segment", "c_custkey", "cents")
    val single = (1L to 9L).map(u => ("S", u, 0L)).:+(("S", 10L, 777L))
      .toDF("segment", "c_custkey", "cents")
    val got = Analytics.gini(uniform.unionAll(single)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got("U")._2 == 0.0, "perfect equality must read exactly 0")
    assert(got("S")._2 == 0.9, "single holder of n=10 must read (n-1)/n = 0.9")
    val fx = Analytics.qGini(spark, sf).collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      val g = r.getDouble(3)
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)}: gini $g out of [0,1)")
    }
  }

  test("TPC-H shapes q4/q10/q14/q19: semi-join bounds, ratio bounds, disjunct containment") {
    // q4: EXISTS can only keep a subset of the quarter's orders
    val quarter = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-04-01").cast("timestamp")).count()
    val q4 = Relational.q4LateOrders(spark, sf).collect()
    assert(q4.nonEmpty && q4.map(_.getLong(1)).sum <= quarter)
    // q10: ranked output, revenue strictly ordered desc with key tiebreak
    val q10 = Relational.q10ReturnedItems(spark, sf).collect()
      .map(r => (r.getDouble(4), r.getLong(0)))
    assert(q10.nonEmpty && q10.length <= 20)
    assert(q10.sliding(2).forall {
      case Array(a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
      case _ => true
    }, "q10 must order by revenue desc, custkey asc")
    // q14: a share is a share
    val q14 = Relational.q14PromoRevenue(spark, sf).collect()(0)
    assert(q14.getDouble(0) >= 0.0 && q14.getDouble(0) <= 100.0)
    assert(q14.getDouble(1) <= q14.getDouble(2), "promo <= total")
    // q19: the disjunctive filter is contained in its brand superset
    val q19 = Relational.q19Disjunctive(spark, sf).collect()(0)
    val superset = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
      .count()
    assert(q19.getLong(0) > 0 && q19.getLong(0) <= superset,
      s"disjunct rows ${q19.getLong(0)} must sit inside the brand superset $superset")
  }

  test("TPC-H shapes q7/q8/q15/q21/q22: symmetry, share bounds, max ties, EXISTS re-derivation") {
    // q7: only the two requested nation pairings appear, both directions
    val q7 = Relational.q7VolumeShipping(spark, sf).collect()
    val pairs = q7.map(r => (r.getString(0), r.getString(1))).distinct.toSet
    assert(pairs.subsetOf(Set(("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))))
    assert(q7.forall(r => r.getDouble(4) > 0))
    // q8: share is a floor ppm of the two reported volumes
    val q8 = Relational.q8MarketShare(spark, sf).collect()
    q8.foreach { r =>
      val (nv, tv, ppm) = (r.getDouble(1), r.getDouble(2), r.getLong(3))
      assert(nv >= 0 && nv <= tv && ppm >= 0 && ppm <= 1000000L)
      assert(math.abs(ppm - math.floor(nv * 1e6 / tv)) <= 1,
        s"share_ppm $ppm vs volumes $nv/$tv")
    }
    // q15: every surfaced supplier carries the SAME (max) revenue
    val q15 = Relational.q15TopSupplier(spark, sf).collect()
    assert(q15.nonEmpty && q15.map(_.getDouble(2)).distinct.length == 1)
    // q21: the one-pass aggregate equals the textbook EXISTS/NOT-EXISTS
    // spelling run through Spark SQL itself (engine-internal re-derivation;
    // the DuckDB oracle re-proves it cross-engine every verify)
    Tables.lineitem(spark, sf).createOrReplaceTempView("t21_l")
    Tables.orders(spark, sf).createOrReplaceTempView("t21_o")
    Tables.supplier(spark, sf).createOrReplaceTempView("t21_s")
    val sql21 = spark.sql("""
      SELECT s_suppkey, s_name, count(*) AS numwait
      FROM t21_l l1 JOIN t21_o ON l1.l_orderkey = o_orderkey
      JOIN t21_s ON l1.l_suppkey = s_suppkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM t21_l l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM t21_l l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey ASC LIMIT 25""")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val q21 = Relational.q21SoleLateSupplier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(q21 == sql21, s"decorrelated $q21 != EXISTS $sql21")
    // q22: nobody in the idle set placed a recent order; balances above avg
    val q22 = Relational.q22IdleCustomers(spark, sf).collect()
    assert(q22.map(_.getLong(1)).sum > 0)
    q22.foreach(r => assert(r.getDouble(2) / r.getLong(1) > 4000.0,
      "per-customer average balance must sit above the global positive mean"))
  }

  test("trunc-division spelling: (a - a%b)/b equals BigInt truncation on random decimals") {
    // the exact-ratio idiom q8/q_cuped/q_bm25-era queries rely on: for
    // ANY sign pattern the engine's decimal (a - a%b)/b must equal
    // BigInteger division (truncation toward zero) — the same result
    // DuckDB's flooring // produces on the exactly-divisible pair
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def big(digits: Int): BigInt = {
      val s = (1 to digits).map(_ => rnd.nextInt(10)).mkString
      val v = BigInt(s.dropWhile(_ == '0') match { case "" => "0"; case x => x })
      if (rnd.nextBoolean()) -v else v
    }
    val cases = Seq.fill(300) {
      val a = big(1 + rnd.nextInt(28)); val b = big(1 + rnd.nextInt(14))
      (a.toString, (if (b == 0) BigInt(7) else b).toString)
    }
    val got = cases.toDF("as", "bs")
      .select(col("as").cast("decimal(38,0)").as("a"),
        col("bs").cast("decimal(38,0)").as("b"))
      .select(expr("CAST((a - a % b) / b AS DECIMAL(38,0))").as("q"))
      .collect().map(r => BigInt(r.getDecimal(0).toBigInteger))
    val want = cases.map { case (a, b) =>
      BigInt(new java.math.BigInteger(a).divide(new java.math.BigInteger(b)))
    }
    got.zip(want).zip(cases).foreach { case ((g, w), c) =>
      assert(g == w, s"case $c: engine $g != BigInteger $w")
    }
  }

  test("hardest-pick law: max_by(struct(m, -partner)) equals the window argmax on random groups") {
    // the O(1)-state selection primitive behind q_training_pairs /
    // q_group_sample-style picks, against a plain Scala argmax
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(500)(
      (rnd.nextInt(40).toLong, rnd.nextInt(200).toLong, rnd.nextInt(32).toLong))
    val got = rows.toDF("anchor", "partner", "m")
      .groupBy(col("anchor"))
      .agg(max_by(struct(col("partner"), col("m")),
        struct(col("m"), -col("partner"))).as("p"))
      .select(col("anchor"), col("p.partner"), col("p.m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = rows.groupBy(_._1).view.mapValues { g =>
      val best = g.maxBy { case (_, p, m) => (m, -p) }
      (best._2, best._3)
    }.toMap
    assert(got == want)
  }

  test("CUPED: theta recompute, variance strictly reduced, grand mean preserved") {
    val d = "/root/testdata/sf0.01" // enough purchases for a real covariance
    val rows = graft.queries.Analytics.qCuped(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getLong(6)))
    assert(rows.map(_._1).toSeq.sorted == Seq(0L, 1L))
    val thetaMicros = rows.head._5
    // independent per-user recompute (driver-side doubles)
    val e = Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val cut = e.map(_._2).min + (e.map(_._2).max - e.map(_._2).min) / 2
    val perUser = e.groupBy(_._1).view.mapValues { es =>
      def cents(p: ((Long, Long, String, Double)) => Boolean) =
        es.filter(x => x._3 == "purchase" && p(x)).map(x => math.round(x._4 * 100)).sum
      (cents(_._2 <= cut).toDouble, cents(_._2 > cut).toDouble)
    }.toMap
    val xs = perUser.values.map(_._1).toSeq; val ys = perUser.values.map(_._2).toSeq
    val n = xs.size.toDouble
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val varx = xs.map(x => (x - mx) * (x - mx)).sum
    val theta = cov / varx
    assert(math.abs(thetaMicros / 1e6 - theta) <= 2e-6,
      s"theta ${thetaMicros / 1e6} vs recompute $theta")
    // CUPED must strictly reduce outcome variance on correlated data
    val t = thetaMicros / 1e6
    val adj = perUser.values.map { case (x, y) => y - t * (x - mx) }.toSeq
    def variance(v: Seq[Double]) = {
      val m = v.sum / v.size; v.map(a => (a - m) * (a - m)).sum / v.size
    }
    assert(variance(adj) < variance(ys),
      s"adjusted var ${variance(adj)} !< raw var ${variance(ys)}")
    // adjustment preserves the user-weighted grand mean (up to micros
    // truncation): sum over arms of n_a*(adj - raw) must be ~0
    val drift = rows.map(r => r._2 * (r._4 - r._3)).sum
    assert(math.abs(drift) <= rows.map(_._2).sum,
      s"grand-mean drift $drift micros exceeds truncation budget")
  }

  test("TPC-H completion q2/q9/q11/q12/q16/q20: correlated re-derivations, threshold law, partition counts") {
    val d = "/root/testdata/sf0.01" // sf0.001's 2-part q2 slice is too thin
    for ((t, df) <- Seq(
        "tc_l" -> Tables.lineitem(spark, d), "tc_o" -> Tables.orders(spark, d),
        "tc_p" -> Tables.part(spark, d), "tc_s" -> Tables.supplier(spark, d),
        "tc_n" -> Tables.nation(spark, d), "tc_r" -> Tables.region(spark, d)))
      df.createOrReplaceTempView(t)
    // q2: the shipped groupBy+join-back decorrelation equals the textbook
    // correlated-min spelling run through Spark SQL itself.
    val sql2 = spark.sql("""
      WITH ps AS (SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
           FROM tc_l GROUP BY 1, 2),
      cand AS (SELECT p_partkey, s_name, s_acctbal, n_name, cost_cents
        FROM ps JOIN tc_p ON l_partkey = p_partkey
        JOIN tc_s ON l_suppkey = s_suppkey
        JOIN tc_n ON s_nationkey = n_nationkey
        JOIN tc_r ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD')
      SELECT CAST(CAST(s_acctbal AS DECIMAL(14,2)) AS DOUBLE) AS acctbal,
        s_name, n_name, p_partkey, cost_cents
      FROM cand c
      WHERE cost_cents = (SELECT min(cost_cents) FROM cand c2
                          WHERE c2.p_partkey = c.p_partkey)
      ORDER BY acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")
      .collect().toSeq
    val q2 = Relational.q2MinCostSupplier(spark, d).collect().toSeq
    assert(q2.nonEmpty && q2 == sql2, s"q2 decorrelation drifted: $q2")
    // q9: exact hundredth-cent profit tracks a double recompute
    val q9 = Relational.q9ProductProfit(spark, d).collect()
    assert(q9.nonEmpty)
    val q9ref = spark.sql("""
      SELECT n_name, year(o_orderdate) AS y,
        sum(l_extendedprice * (1 - l_discount)
            - 0.6 * p_retailprice * l_quantity) AS p
      FROM tc_l JOIN tc_p ON l_partkey = p_partkey
      JOIN tc_o ON l_orderkey = o_orderkey
      JOIN tc_s ON l_suppkey = s_suppkey
      JOIN tc_n ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%bolt%' GROUP BY 1, 2""")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    q9.foreach { r =>
      val ref = q9ref((r.getString(0), r.getInt(1)))
      assert(math.abs(r.getDouble(2) - ref) < 1e-4,
        s"q9 ${r.getString(0)}/${r.getInt(1)}: ${r.getDouble(2)} vs $ref")
    }
    // q11: the returned set is EXACTLY the parts above the 0.0001 fraction
    val nat1Vals = Tables.lineitem(spark, d)
      .join(Tables.supplier(spark, d)
          .join(Tables.nation(spark, d).filter(col("n_name") === "NATION_1"),
            col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("vc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = nat1Vals.values.sum
    val expected11 = nat1Vals.filter { case (_, v) => v * 10000 > total }.keySet
    val q11 = Relational.q11ImportantStock(spark, d).collect()
    assert(q11.map(_.getLong(0)).toSet == expected11 && expected11.nonEmpty)
    // q12: the two derived speed classes partition the year's joined lines
    val q12 = Relational.q12PriorityShipping(spark, d).collect()
    assert(q12.map(_.getString(0)).sorted.toSeq == Seq("FAST", "SLOW"))
    val q12Total = q12.map(r => r.getLong(1) + r.getLong(2)).sum
    val joined = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(q12Total == joined, s"q12 classes must partition: $q12Total vs $joined")
    // q16: the LEFT ANTI face equals the textbook NOT IN run through Spark SQL
    val sql16 = spark.sql("""
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM tc_l) ps
      JOIN tc_p ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'PROMO%'
        AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM tc_s WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""").collect().toSeq
    val q16 = Relational.q16SupplierParts(spark, d).collect().toSeq
    assert(q16.nonEmpty && q16 == sql16, "q16 NOT-IN face drifted")
    // q20: dominance law re-derived through a window spelling
    val yr = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.part(spark, d).filter(col("p_name").like("small%"))
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("sp_q"))
    val winDominant = yr
      .withColumn("tot_q",
        sum(col("sp_q")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("sp_q") * 2 > col("tot_q"))
      .select("l_suppkey").distinct()
      .join(Tables.supplier(spark, d)
          .join(Tables.nation(spark, d).filter(col("n_name") === "NATION_2"),
            col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    val q20 = Relational.q20DominantSupplier(spark, d).collect()
    assert(q20.map(_.getLong(0)).toSet == winDominant && winDominant.nonEmpty,
      "q20 dominant-supplier set drifted from the window re-derivation")
  }

  test("seasonal anomaly: residuals are vs the weekday median, flag matches the MAD gate") {
    val rows = Analytics.qSeasonalAnomaly(spark, sf).collect()
    assert(rows.length == 20)
    // |resid| descends with day tie-break ascending
    val absR = rows.map(r => math.abs(r.getDouble(4)))
    assert(absR.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // each row's residual is exactly cents − dow_median
    rows.foreach { r =>
      assert(r.getDouble(4) == r.getLong(2) - r.getDouble(3))
      assert(r.getLong(0) % 7L == ((r.getLong(1) - 4 + 7) % 7))
    }
    // flags are monotone in |resid|: once below the gate, never flagged
    val flags = rows.map(_.getBoolean(5))
    assert(flags.zip(flags.tail).forall { case (a, b) => a || !b })
  }

  test("top paths: arrival order cannot leak into the path; truncation and caps hold") {
    val rows = Analytics.qTopPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 20)
    // counts descend; path ascends within equal counts
    assert(rows.sliding(2).forall { case Array((pa, na), (pb, nb)) =>
      na > nb || (na == nb && pa < pb); case _ => true })
    // every path is ≤ 8 steps drawn from the event vocabulary
    val vocab = Set("view", "click", "purchase", "signup", "error")
    rows.foreach { case (p, _) =>
      val steps = p.split(">")
      assert(steps.length <= 8 && steps.forall(vocab))
    }
    // determinism under repartition: shuffling input order changes nothing
    val again = Analytics.qTopPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == again.toSeq)
  }

  test("k-anonymity audit: summary is consistent with its own group table") {
    val r = Analytics.qKAnonymity(spark, sf).collect()(0)
    val groups = Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(round(col("c_acctbal") * 100).cast("long") / 100000.0)
          .cast("long"))
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(3))
    assert(r.getLong(0) == 5L)
    assert(r.getLong(1) == groups.length)
    assert(r.getLong(2) == groups.count(_ < 5L))
    assert(r.getLong(3) == groups.filter(_ < 5L).sum)
    assert(r.getLong(4) == groups.min)
  }

  test("incremental join maintenance: components conserve the direct join exactly") {
    val rows = Analytics.qIncrementalJoin(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(3) == r.getLong(5), "line conservation")
      assert(r.getLong(2) + r.getLong(4) == r.getLong(6), "revenue conservation")
      assert(r.getLong(3) > 0L, "both modular deltas are non-empty at sf0.001")
    }
    // the maintained totals equal a direct single-join recompute
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getLong(5)).toMap == direct)
  }

  test("seasonality: uniform series indexes exactly 1e6; doubled weekday hits the closed form") {
    import spark.implicits._
    // 28 uniform days: every weekday index is exactly 1,000,000
    val uni = Analytics.seasonality(
      (0L until 28L).map(d => (d, 100L)).toDF("day", "x")).collect()
    assert(uni.length == 7 && uni.forall(_.getLong(3) == 1000000L))
    // double revenue on dow 0 (days ≡ 3 mod 7 since (3+4)%7 == 0):
    // index_0 = 200·28e6/(4·3200) = floor(1750000), others 875000
    val skew = Analytics.seasonality(
      (0L until 28L).map(d => (d, if ((d + 4) % 7 == 0) 200L else 100L))
        .toDF("day", "x")).collect()
    val byDow = skew.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byDow(0L) == 1750000L && (1L to 6L).forall(byDow(_) == 875000L),
      s"closed form: $byDow")
    val fx = Analytics.qSeasonality(spark, sf).collect()
    assert(fx.length == 7 && fx.forall(_.getLong(3) > 0L))
  }

  test("AUC closed forms: separation, inversion, ties, and fixture bounds") {
    import spark.implicits._
    def run(rows: Seq[(Boolean, Long)]): Long =
      Analytics.auc(rows.toDF("is_pos", "cents")).collect()(0).getLong(3)
    assert(run(Seq((true, 3L), (true, 4L), (false, 1L), (false, 2L))) == 1000000L,
      "perfect separation")
    assert(run(Seq((false, 3L), (false, 4L), (true, 1L), (true, 2L))) == 0L,
      "perfectly wrong")
    assert(run(Seq((true, 1L), (true, 2L), (false, 1L), (false, 2L))) == 500000L,
      "identical distributions")
    // pos {2,3} vs neg {1,2}: pairs 1 + ½ + 1 + 1 = 3.5 of 4 → 0.875
    assert(run(Seq((true, 2L), (true, 3L), (false, 1L), (false, 2L))) == 875000L)
    val fx = Analytics.qAuc(spark, sf).collect()(0)
    assert(fx.getLong(0) + fx.getLong(1) ==
      Tables.orders(spark, sf).count())
    assert(fx.getLong(3) >= 0L && fx.getLong(3) <= 1000000L)
  }

  test("nDCG: aligned ranking scores exactly 1e6; inversion matches a BigInt grid recompute") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long, Long)]) =
      Analytics.ndcg(rows.toDF("item", "views", "rel")).collect()(0)
    val aligned = run(Seq((1L, 30L, 9L), (2L, 20L, 5L), (3L, 10L, 2L)))
    assert(aligned.getLong(2) == 1000000L, s"aligned: $aligned")
    // views rank B, A; relevance says A ≫ B — recompute the grid sums
    val inv = run(Seq((1L, 5L, 3L), (2L, 9L, 1L)))
    def qlog(x: Long): Long =
      math.round(StrictMath.log(x.toDouble) / StrictMath.log(2.0) * 1e6)
    val dcg = 1L * 1000000000000L / qlog(2) + 3L * 1000000000000L / qlog(3)
    val idcg = 3L * 1000000000000L / qlog(2) + 1L * 1000000000000L / qlog(3)
    assert(inv.getLong(0) == dcg && inv.getLong(1) == idcg,
      s"grid sums: $inv vs ($dcg, $idcg)")
    assert(inv.getLong(2) == dcg * 1000000L / idcg)
    val fx = Analytics.qNdcg(spark, sf).collect()(0)
    assert(fx.getLong(2) > 0L && fx.getLong(2) <= 1000000L)
  }

  test("mutual information equals a driver-side grid recompute; bounded by min marginal entropy") {
    val r = Analytics.qMutualInfo(spark, sf).collect()(0)
    val cells = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority").count().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    // StrictMath.log, not math.log — Spark's Log2 (and DuckDB's libm)
    // sit on StrictMath's ulp; the grid recompute must share it
    def qlog(x: Long): Long =
      math.round(StrictMath.log(x.toDouble) / StrictMath.log(2.0) * 1e6)
    val n = cells.map(_._3).sum
    val rm = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cm = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // Spark's round() is HALF_UP (away from zero); math.round rounds
    // toward +inf — they differ on negative cell terms
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val mi = cells.map { case (s0, p, c) =>
      rnd((c.toDouble / n) *
        (qlog(c) + qlog(n) - qlog(rm(s0)) - qlog(cm(p))).toDouble)
    }.sum
    def h(m: Map[String, Long]): Long = m.values.map(v =>
      rnd((v.toDouble / n) * (qlog(n) - qlog(v)).toDouble)).sum
    assert(r.getLong(0) == n && r.getLong(1) == mi,
      s"MI ${r.getLong(1)} != recompute $mi")
    assert(r.getLong(2) == h(rm) && r.getLong(3) == h(cm))
    // information inequalities (up to grid quantization wobble)
    assert(r.getLong(1) >= -10L && r.getLong(1) <= math.min(r.getLong(2),
      r.getLong(3)) + 10L, s"0 <= MI <= min(H): $r")
    assert(r.getLong(4) == r.getLong(1) * 1000000L
      / math.min(r.getLong(2), r.getLong(3)))
  }

  test("changepoint equals an exact BigInt CUSUM recompute with earliest-argmax tie") {
    val r = Analytics.qChangepoint(spark, sf).collect()(0)
    val daily = Tables.orders(spark, sf)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum(col("c")).as("x")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
    val n = BigInt(daily.length); val t = daily.map(d => BigInt(d._2)).sum
    var s = BigInt(0)
    val cusum = daily.map { case (d, x) => s += n * x - t; (d, s) }
    val mx = cusum.map(_._2.abs).max
    val (cpDay, sAt) = cusum.filter(_._2.abs == mx).minBy(_._1)
    assert(r.getLong(0) == cpDay && BigInt(r.getLong(1)) == mx,
      s"cusum: $r vs ($cpDay, $mx)")
    assert(r.getString(2) == (if (sAt < 0) "up" else "down"))
  }

  test("cohort LTV: revenue conserved, cumulative monotone, per-user DIV exact") {
    val rows = Analytics.qCohortLtv(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // revenue conservation: Σ rev_cents equals total purchase cents
    val total = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 100).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(_._4).sum == total, "cohort grid conserves revenue")
    rows.groupBy(_._1).foreach { case (cw, rs) =>
      val byW = rs.sortBy(_._2)
      // cumulative = running sum of the weekly column, strictly derived
      assert(byW.map(_._4).scanLeft(0L)(_ + _).tail
        .sameElements(byW.map(_._5)), s"cohort $cw cumulative")
      byW.foreach { r => assert(r._6 == r._5 / r._3, s"cohort $cw ltv") }
    }
  }

  test("window funnel: stages monotone, each a subset of the unbounded funnel, ppm exact") {
    val wf = Relational.qWindowFunnel(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val un = Relational.qFunnel(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(wf.keySet == Set(1, 2, 3))
    assert(wf(1)._1 >= wf(2)._1 && wf(2)._1 >= wf(3)._1,
      s"constrained funnel must narrow: $wf")
    // the 24 h window can only LOSE users vs the unbounded progression
    (1 to 3).foreach(st => assert(wf(st)._1 <= un(st),
      s"stage $st: windowed ${wf(st)._1} > unbounded ${un(st)}"))
    assert(wf(1)._1 == un(1), "stage 1 has no window constraint")
    (1 to 3).foreach(st =>
      assert(wf(st)._2 == wf(st)._1 * 1000000L / wf(1)._1, s"ppm stage $st"))
    assert(wf(2)._1 > wf(3)._1, "fixture must differentiate stages 2 and 3")
  }

  test("PSI: identical halves read exactly 0; a full shift localizes to the end bins") {
    import spark.implicits._
    // identical value multisets in both halves → every term exactly 0
    val same = (0L to 9L).flatMap(d => (1 to 10).map(c => (d, c * 100L)))
      .toDF("day", "cents")
    val s0 = Analytics.psi(same).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(s0.values.forall(_ == 0L), s"identical halves must read 0: $s0")
    assert(s0(-1L) == 0L)
    // period A all at cents=100 (bin 0), period B all at 1000 (bin 9):
    // qlog(11) = round(log2(11)·1e6) = 3459432; each end bin reads
    // round(0.5·3459432), middle bins cancel exactly
    val shifted = ((1 to 10).map(_ => (0L, 100L))
        ++ (1 to 10).map(_ => (9L, 1000L))).toDF("day", "cents")
    val s1 = Analytics.psi(shifted).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val qlog11 = math.round(math.log(11.0) / math.log(2.0) * 1e6)
    assert(s1(0L) == math.round(0.5 * qlog11) && s1(9L) == s1(0L),
      s"end bins must carry the shift: $s1")
    assert((1L to 8L).forall(s1(_) == 0L), s"middle bins must cancel: $s1")
    assert(s1(-1L) == s1(0L) + s1(9L), "total row is the sum")
  }

  test("uptime: exact union coverage for nested, abutting, hour-spanning and idle-hour patterns") {
    import spark.implicits._
    val H = 3600000000L; val D = 86400000000L
    val ev = Seq(
      // u1 day0: [0, 2h] — spans a DELTALESS full hour (hour 1 covered
      // entirely by the spine carry, not by any segment row)
      (1L, 0L), (1L, 2L * H),
      // u2 day0: [10h+5, 10h+10]; u3 abuts at [10h+11, 10h+20] — the
      // −1/+1 deltas at 10h+11 cancel → one contiguous covered run
      (2L, 10L * H + 5), (2L, 10L * H + 10),
      (3L, 10L * H + 11), (3L, 10L * H + 20),
      // u1 day1: single event → 1 µs interval
      (1L, D + 100L))
      .toDF("user_id", "us").withColumn("ts", expr("timestamp_micros(us)"))
    val got = Analytics.uptime(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(Seq(
      (0L, 3L, 2L * H + 1 + 16L, (2L * H + 17) * 1000000L / D),
      (1L, 1L, 1L, 0L))), s"coverage: ${got.toSeq}")
  }

  test("conversion lag: first qualifying purchase, pre-signup purchases excluded") {
    import spark.implicits._
    val M = 60000000L
    val ev = Seq(
      // u1: signup then purchase 5 min later
      (1L, 0L, "signup"), (1L, 5 * M, "purchase"),
      // u2: purchase BEFORE signup only → signed up, never converted
      (2L, 10 * M, "purchase"), (2L, 20 * M, "signup"),
      // u3: purchase with no signup → not in the cohort at all
      (3L, 0L, "purchase"),
      // u4: two purchases after signup → FIRST one (90 s → 1 min) wins
      (4L, 0L, "signup"), (4L, 90000000L, "purchase"),
      (4L, 600 * M, "purchase"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val r = Analytics.conversionLag(ev).collect()(0)
    // cohort {u1, u2, u4}; conversions: u1 lag 5 min, u4 lag 1 min
    // (floor of 90 s; the 600-min purchase loses to first-qualifying);
    // median of {1, 5} interpolates to 3.0, p90 to 1 + 0.9·(5−1) = 4.6
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L, s"cohort: $r")
    assert(r.getLong(2) == 666666L, s"conv_ppm: $r")
    assert(r.getDouble(3) == 3.0, s"median: $r")
    assert(r.getDouble(4) == 4.6, s"p90 must interpolate 1+0.9·(5−1): $r")
    // fixture-level: cohort arithmetic holds and percentiles are sane
    val fx = Analytics.qConversionLag(spark, sf).collect()(0)
    assert(fx.getLong(1) <= fx.getLong(0), "converted <= signed up")
    assert(fx.getLong(2) == fx.getLong(1) * 1000000L / fx.getLong(0))
    assert(fx.getDouble(3) <= fx.getDouble(4), "median <= p90")
  }

  test("Kaplan-Meier: closed-form curve with a censored straggler in the risk set") {
    import spark.implicits._
    val h = 3600000000L
    // u1: 0→10h churn; u2: 5→15h churn (lifetime 10h); u3: 0→20h churn;
    // u4: 0→100h (defines t_end, gap 0 → censored but AT RISK throughout)
    val ev = Seq(
      (1L, 0L), (1L, 10L * h),
      (2L, 5L * h), (2L, 15L * h),
      (3L, 0L), (3L, 20L * h),
      (4L, 0L), (4L, 100L * h))
      .toDF("user_id", "us").withColumn("ts", expr("timestamp_micros(us)"))
    val got = Analytics.survival(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // t=10: d=2, risk=4 → S=1/2 → −1e6; t=20: d=1, risk=2 (u3 + the
    // censored u4) → S=1/4 → −2e6. u4 must NOT appear as a churn time.
    assert(got.sameElements(Seq(
      (10L, 4L, 2L, -1000000L),
      (20L, 2L, 1L, -2000000L))), s"KM curve: ${got.toSeq}")
  }

  test("KS test: identical samples read D=0, disjoint supports read D=1 and reject") {
    import spark.implicits._
    val same = ((1 to 10).map(c => (true, c.toLong))
        ++ (1 to 10).map(c => (false, c.toLong))).toDF("is_a", "cents")
    val s0 = Analytics.ksTest(same).collect()(0)
    assert(s0.getLong(2) == 0L && s0.getLong(3) == 0L && !s0.getBoolean(4),
      s"identical samples must read D=0: $s0")
    // A entirely below B: at the A/B boundary |cA·nB − cB·nA| = nA·nB
    val disj = ((1 to 10).map(c => (true, c.toLong))
        ++ (11 to 20).map(c => (false, c.toLong))).toDF("is_a", "cents")
    val d0 = Analytics.ksTest(disj).collect()(0)
    assert(d0.getLong(0) == 10L && d0.getLong(1) == 10L)
    assert(d0.getLong(2) == 100L, s"disjoint D must be nA·nB/nA·nB = 1: $d0")
    assert(d0.getLong(3) == 1000000L && d0.getBoolean(4),
      s"disjoint supports must reject at α=0.05: $d0")
    // fixture: statistic well-formed, 0 ≤ d_ppm ≤ 1e6
    val fx = Analytics.qKsTest(spark, sf).collect()(0)
    assert(fx.getLong(0) > 0 && fx.getLong(1) > 0)
    assert(fx.getLong(3) >= 0L && fx.getLong(3) <= 1000000L)
  }

  test("attribution: last touch wins, window edge is strict, touchless is direct") {
    import spark.implicits._
    def ev(id: Long, us: Long, u: Long, t: String, v: Double) =
      (id, us, u, t, v)
    val day7 = 7L * 86400000000L
    val base = 1700000000000000L
    val rows = Seq(
      // user 1: click then view then purchase → view (the LATER touch)
      ev(1, base + 100L, 1, "click", 0),
      ev(2, base + 200L, 1, "view", 0),
      ev(3, base + 250L, 1, "purchase", 10.0),
      // user 2: touchless purchase → direct
      ev(4, base + 300L, 2, "purchase", 20.0),
      // user 3: touch EXACTLY 7 days before → outside (strict >)
      ev(5, base, 3, "click", 0),
      ev(6, base + day7, 3, "purchase", 30.0),
      // user 4: touch 7 days minus 1 µs before → inside
      ev(7, base + 1L, 4, "click", 0),
      ev(8, base + day7, 4, "purchase", 40.0),
      // user 5: two touches at the SAME µs → higher event_id (view) wins
      ev(9, base + 500L, 5, "click", 0),
      ev(10, base + 500L, 5, "view", 0),
      ev(11, base + 600L, 5, "purchase", 50.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val got = Analytics.attribution(rows).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("view") == ((2L, 6000L)), s"view: $got")     // users 1, 5
    assert(got("click") == ((1L, 4000L)), s"click: $got")   // user 4
    assert(got("direct") == ((2L, 5000L)), s"direct: $got") // users 2, 3
  }

  test("incremental minmax: all three maintenance paths fire and agree with a full recompute") {
    val rows = Analytics.qIncrementalMinmax(spark, sf).collect()
    val paths = rows.groupBy(_.getString(3)).map { case (k, v) => k -> v.length }
    assert(paths.keySet == Set("untouched", "folded", "repaired"),
      s"paths seen: $paths — the delete batch must exercise every case")
    // full recompute from the surviving base rows
    val surviving = graft.io.Tables.orders(spark, sf)
      .filter(!(col("o_orderkey") % 31 === 13))
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = surviving.groupBy(_._1).map { case (c, xs) =>
      c -> (xs.length.toLong, xs.map(_._2).max) }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, m) = expect(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == m, s"cust ${r.getLong(0)}")
    }
    // folded rows never touched base: their max must equal the
    // PRE-delete group max (provably unchanged)
    val preMax = graft.io.Tables.orders(spark, sf)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().groupBy(_.getLong(0))
      .map { case (c, xs) => c -> xs.map(_.getLong(1)).max }
    rows.filter(_.getString(3) == "folded").foreach { r =>
      assert(r.getLong(2) == preMax(r.getLong(0))) }
  }

  test("q6: every predicate reaches the lineitem scan; q17 cut matches a local recompute") {
    val plan = Relational.q6ForecastRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    // ship-year bounds, discount band, and quantity cap all push into
    // the parquet scan — the Q6 claim, pinned on the executed plan
    assert(plan.contains("PushedFilters:"))
    val pushed = plan.split("PushedFilters: \\[")(1).split("]")(0)
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed: [$pushed]")
    // q17: local recompute of the cross-multiplied 20%-of-part-average cut
    val rows = graft.io.Tables.lineitem(spark, sf)
      .join(graft.io.Tables.part(spark, sf)
          .filter(col("p_brand") === "Brand#4"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), round(col("l_quantity")).cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val st = rows.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.map(_._2).sum, xs.length.toLong) }
    val picked = rows.filter { case (k, q, _) =>
      val (sq, nq) = st(k); q * 5 * nq < sq }
    val got = Relational.q17SmallQtyRevenue(spark, sf).collect()(0)
    assert(got.getLong(0) == picked.length.toLong)
    assert(got.getLong(1) == picked.map(_._3).sum)
    assert(got.getLong(2) == picked.map(_._3).sum / 7)
  }

  test("Theil-Sen: linear closed form, outlier immunity, negative floor division") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long)]) =
      Analytics.theilSen(rows.toDF("day", "cents")).collect()(0)
    // pure linear series: every pairwise slope is exactly 3 cents/day
    val lin = run((0L until 10L).map(d => (d, 5L + 3L * d)))
    assert(lin.getLong(1) == 45L && lin.getLong(2) == 3000000L
      && lin.getLong(3) == 3000000L, s"linear: $lin")
    assert(lin.getLong(4) == 45L && lin.getLong(5) == 0L
      && lin.getLong(7) == 1000000L, s"tau on monotone series: $lin")
    // one crashed day drags OLS but not the median slope: 36 clean pairs
    // at 10e6 uppm vs 9 outlier pairs, both central order stats clean
    val out = run((0L until 9L).map(d => (d, 10L * d)) :+ (9L, -1000000L))
    assert(out.getLong(2) == 10000000L && out.getLong(3) == 10000000L,
      s"median slope must shrug off the outlier: $out")
    assert(out.getLong(4) == 36L && out.getLong(5) == 9L
      && out.getLong(7) == 600000L, s"tau: $out")
    // negative non-divisible slope must FLOOR identically to the oracle:
    // dy=-7 cents over dx=3 days -> floor(-7e6/3) = -2333334, not -2333333
    val neg = run(Seq((0L, 10L), (3L, 3L)))
    assert(neg.getLong(2) == -2333334L && neg.getLong(3) == -2333334L,
      s"sign-safe floor: $neg")
    // fixture invariants: pair count is n(n-1)/2, orientation conserves
    val fx = Analytics.qTheilSen(spark, sf).collect()(0)
    val (nd, np) = (fx.getLong(0), fx.getLong(1))
    assert(np == nd * (nd - 1) / 2, s"pair grid: $fx")
    assert(fx.getLong(4) + fx.getLong(5) + fx.getLong(6) == np)
    assert(math.abs(fx.getLong(7)) <= 1000000L)
    assert(fx.getLong(2) <= fx.getLong(3))
  }

  test("lift curve: top-scorer buyers hit max lift; uniform rate flattens to 1e6") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long, Long)]) =
      Analytics.liftCurve(rows.toDF("user_id", "score", "buyer"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    // 20 users, distinct scores, buyers = the 4 best-scored users:
    // deciles 1-2 capture everything at 5x lift, the rest add nothing
    val top = run((1L to 20L).map(u => (u, 21L - u, if (u <= 4) 1L else 0L)))
    assert(top.length == 10)
    assert(top(0) == (1, 2L, 2L, 2L, 500000L, 5000000L), s"d1: ${top(0)}")
    assert(top(1) == (2, 2L, 2L, 4L, 1000000L, 5000000L), s"d2: ${top(1)}")
    top.drop(2).foreach { d =>
      assert(d._3 == 0L && d._4 == 4L && d._5 == 1000000L && d._6 == 0L,
        s"tail decile: $d")
    }
    // uniform buyer rate: every decile reads lift exactly 1e6
    val uni = run((1L to 20L).map(u => (u, 21L - u, 1L)))
    assert(uni.forall(_._6 == 1000000L), s"uniform lift: ${uni.toSeq}")
    assert(uni.map(_._5).toSeq == (1L to 10L).map(_ * 100000L).toSeq)
    // fixture: buyer mass conserved, capture monotone to exactly 1e6
    val fx = Analytics.qLiftCurve(spark, sf).collect()
    val buyers = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(fx.map(_.getLong(2)).sum == buyers, "buyer mass must conserve")
    val caps = fx.map(_.getLong(4))
    assert(caps.zip(caps.drop(1)).forall { case (a, b) => a <= b })
    if (buyers > 0) assert(caps.last == 1000000L)
  }

  test("Cramer's V: matches a driver-side recompute from the chi-square row; bounded") {
    val chi = Analytics.qChiSquare(spark, sf).collect()(0)
    val (nObs, chi2m) = (chi.getLong(0), chi.getLong(5))
    val k = math.min(chi.getLong(2), chi.getLong(3)) - 1
    val v = Analytics.qCramersV(spark, sf).collect()(0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(v.getLong(0) == nObs && v.getLong(2) == chi2m)
    assert(v.getDouble(3) ==
      r6(math.sqrt((chi2m / 1e6) / (nObs.toDouble * k))),
      "V must equal the recompute from the shipped chi-square row")
    assert(v.getDouble(4) ==
      r6(math.sqrt((chi2m / 1e6) / nObs.toDouble)))
    assert(v.getDouble(3) >= 0 && v.getDouble(3) <= 1.000001)
    assert(v.getDouble(5) < 1.0, "contingency C is bounded below 1")
  }
}
