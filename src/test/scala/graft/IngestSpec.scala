package graft

import org.apache.spark.sql.functions._
import graft.queries.Ingest

/** Pins the corrupt-record semantics of the oracle-checked ingestion
  * queries on their real fixtures (fixtures/ingest/): PERMISSIVE damage
  * accounting, the FAILFAST error path, and DROPMALFORMED's quarantine-
  * by-omission — so a fixture edit that silently changes the malformed-row
  * contract the DuckDB oracles re-derive breaks here first. */
class IngestSpec extends SparkSpec {

  test("q_csv_ingest: every category reports exactly one damaged row") {
    val rows = Ingest.qCsvIngest(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("alpha", "beta", "gamma"))
    rows.foreach { r =>
      assert(r.getLong(1) == 8, s"n_rows for ${r.getString(0)}")
      assert(r.getLong(2) == 1, s"n_bad for ${r.getString(0)}")
      assert(r.getLong(3) > 0, s"amount_sum for ${r.getString(0)}")
    }
  }

  test("q_json_ingest: 2 malformed lines surface as the _corrupt row, 20 good lines aggregate") {
    val rows = Ingest.qJsonIngest(spark, sf).collect()
    val byEvt = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byEvt("_corrupt") == 2)
    assert(byEvt.filterNot(_._1 == "_corrupt").values.sum == 20)
    // nested-struct extraction: distinct uid count is bounded by the 7
    // distinct users in the fixture
    rows.filterNot(_.getString(0) == "_corrupt")
      .foreach(r => assert(r.getLong(2) >= 1 && r.getLong(2) <= 7))
  }

  test("q_csv_ingest_glob: damage accounting aggregates per file across the glob") {
    val rows = Ingest.qCsvIngestGlob(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("events_a.csv", "events_b.csv", "events_c.csv"))
    assert(rows("events_a.csv")._1 == 10 && rows("events_a.csv")._2 == 2)
    // the clean file must report zero damage — per-record semantics must
    // not leak damage across file boundaries
    assert(rows("events_b.csv")._1 == 8 && rows("events_b.csv")._2 == 0)
    assert(rows("events_c.csv")._1 == 12 && rows("events_c.csv")._2 == 3)
    rows.values.foreach { case (_, _, sum) => assert(sum > 0) }
  }

  test("jsonl fixture contract: no blank lines, so the oracle's split-count equals Spark's record count") {
    // the DuckDB oracle counts lines as non-empty \n-split elements —
    // correct with or without a trailing newline ONLY if no interior
    // line is blank; pin that here so a fixture edit can't silently
    // desynchronize the two counts
    val src = scala.io.Source.fromFile(s"${Ingest.FixtureDir}/applog.jsonl")
    val lines = try src.getLines().toVector finally src.close()
    assert(lines.nonEmpty && lines.forall(_.trim.nonEmpty),
      "applog.jsonl must contain no blank or whitespace-only lines")
    assert(lines.size == 22, s"fixture is ${lines.size} lines, oracle assumes 22")
  }

  test("FAILFAST surfaces fixture corruption as an error; DROPMALFORMED drops exactly the bad rows") {
    val err = intercept[Exception] {
      spark.read
        .schema("evt STRING, ms INT, usr STRUCT<uid: INT, tier: STRING>")
        .option("mode", "FAILFAST")
        .json(s"${Ingest.FixtureDir}/applog.jsonl")
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" ").toUpperCase
    assert(msgs.contains("FAILFAST") || msgs.contains("MALFORMED"), s"got: $msgs")

    val kept = spark.read
      .schema("evt STRING, ms INT, usr STRUCT<uid: INT, tier: STRING>")
      .option("mode", "DROPMALFORMED")
      .json(s"${Ingest.FixtureDir}/applog.jsonl")
      .count()
    assert(kept == 20, s"DROPMALFORMED kept $kept of 22 lines")

    // CSV malformation is only detected in columns the scan actually
    // parses — count() prunes every column and keeps all 24 rows, so the
    // projection must demand `amount` for DROPMALFORMED to see the damage
    val csvKept = spark.read
      .schema("id INT, ts STRING, amount INT, category STRING")
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(s"${Ingest.FixtureDir}/transactions.csv")
      .select(col("id"), col("amount")).collect().length
    assert(csvKept == 21, s"DROPMALFORMED kept $csvKept of 24 csv rows")
  }

  test("ORC round trip preserves the parquet-side aggregate; filter is pushed to the ORC scan") {
    val df = graft.queries.Ingest.qOrcRoundtrip(spark, sf)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val want = graft.io.Tables.documents(spark, sf)
      .filter(col("doc_id") >= 100)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("text_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, "ORC round trip changed the data")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Format: ORC"), "read-back scan is not ORC")
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,100)]")
      || plan.contains("(doc_id#"), s"range predicate not pushed to the ORC scan")
  }

  test("table diff equals the injected damage exactly (no false positives/negatives)") {
    val got = Ingest.qTableDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // ground truth straight from the damage rule the replica was built
    // with: key-hash % 1000 == 13 -> dropped (src_only), == 7 -> +1 cent
    // (changed); everything else must be ABSENT from the diff
    val truth = graft.io.Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        pmod(graft.core.TextPipeline.h32(col("o_orderkey").cast("string")),
          lit(1000)).as("m"))
      .filter(col("m") === 13 || col("m") === 7)
      .collect()
      .map(r => r.getLong(0) -> (if (r.getLong(1) == 13) "src_only" else "changed"))
      .toMap
    assert(got == truth,
      s"diff != damage: extra=${(got.toSet -- truth.toSet).take(5)} missing=${(truth.toSet -- got.toSet).take(5)}")
    assert(got.nonEmpty, "fixture produced no damaged rows - test is vacuous")
    assert(got.values.toSet == Set("src_only", "changed"))
  }

  test("schema evolution: legacy rows are the nulls, generations reconcile exactly") {
    val rows = Ingest.qSchemaEvolution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = graft.io.Tables.documents(spark, sf)
    val nEven = docs.filter(col("doc_id") % 2 === 0).count()
    val nOdd = docs.filter(col("doc_id") % 2 === 1).count()
    assert(rows.map(_._3).sum == nEven, "every even (gen-1) doc reads as legacy/null")
    assert(rows.map(_._4).sum == nOdd, "every odd (gen-2) doc carries a score")
    rows.foreach { case (lang, n, legacy, scored, qsum) =>
      assert(n == legacy + scored, s"$lang: $n != $legacy + $scored")
      assert(scored == 0 || qsum > 0, s"$lang: scored docs with zero token mass")
    }
    // the evolution is real: a bare read of the gen-1 directory alone has
    // no `quality` column at all (same per-JVM scratch root the query used)
    val base = graft.io.Tables.store("schevo", sf)(_ => ())
    assert(!spark.read.parquet(s"$base/gen1").columns.contains("quality"))
    assert(spark.read.parquet(s"$base/gen2").columns.contains("quality"))
  }

  test("sequence gaps: planted gap list exact; width-1 gaps kept; head/tail are not gaps") {
    import spark.implicits._
    // present: 5,6, [gap 7-8], 9, [gap 10], 11 — ids below 5 / above 11
    // are out of observed range and must NOT read as gaps
    val got = Ingest.sequenceGaps(Seq(5L, 6L, 9L, 11L).toDF("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(Seq((7L, 8L, 2L), (10L, 10L, 1L))),
      s"gap list: ${got.toSeq}")
    // gapless input → empty audit
    assert(Ingest.sequenceGaps((1L to 8L).toDF("id")).count() == 0)
    // fixture: the synthesized damage (id ≡ 13 mod 997) comes back
    // exactly — every gap is a single withheld id
    val fx = Ingest.qSequenceGaps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fx.nonEmpty)
    assert(fx.forall { case (s0, e0, n) =>
      s0 == e0 && n == 1L && s0 % 997 == 13
    }, s"planted damage only: ${fx.take(3).toSeq}")
  }

  test("DPP: the customer scan carries a runtime dynamicpruning partition filter; values match the raw star join") {
    val df = Ingest.qDppPrune(spark, sf)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"scan must be dynamically pruned:\n$plan")
    val raw = graft.io.Tables.customer(spark, sf)
      .join(graft.io.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .join(graft.io.Tables.region(spark, sf),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(14, 2)))
          .cast("double").as("total_bal"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == raw)
    assert(got.length == 5, "EUROPE holds 5 of the 25 nations")
  }

  test("bucketed join plans ZERO exchanges below the join; the raw twin shuffles both sides") {
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect() // finalize the adaptive plan
        // count only the AQE final plan, not the echoed initial plan
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        "Exchange hashpartitioning".r.findAllIn(plan).length
      }
      val bucketed = Ingest.qBucketedJoin(spark, sf)
      val raw = graft.io.Tables.lineitem(spark, sf)
        .join(graft.io.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"))
      val nb = exchanges(bucketed)
      val nr = exchanges(raw)
      // bucketed: only the final groupBy exchanges; join sides read
      // pre-clustered from the bucket layout. raw: both join inputs
      // shuffle on orderkey plus the same groupBy.
      assert(nb == 1, s"bucketed plan must carry exactly the agg exchange, got $nb:\n${bucketed.queryExecution.executedPlan}")
      assert(nr == 3, s"raw twin must shuffle both join sides + agg, got $nr")
      // and the exchange-free plan returns the same aggregate
      val viaRaw = graft.io.Tables.lineitem(spark, sf)
        .join(graft.io.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val viaBkt = bucketed.collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(viaBkt == viaRaw)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("ref integrity: TPC-H arrows hold (0 orphans) and idle parents are counted") {
    val rows = Ingest.qRefIntegrity(spark, sf).collect()
    assert(rows.length == 8)
    // every FK arrow of the fixture holds: no child key lacks its parent
    rows.foreach { r =>
      assert(r.getLong(3) == 0L, s"edge ${r.getString(0)} has orphans") }
    val byEdge = rows.map(r => r.getString(0) -> r).toMap
    // idle entities exist: some customers never produced an event, so
    // the events->customer edge leaves parents unreferenced (< 1e6 ppm)
    val oc = byEdge("events.user_id->customer.c_custkey")
    assert(oc.getLong(4) > 0L, "fixture has customers without events")
    assert(oc.getLong(5) < 1000000L && oc.getLong(5) > 0L)
    // nation->region is fully covered both ways at any sf
    val nr = byEdge("nation.n_regionkey->region.r_regionkey")
    assert(nr.getLong(4) == 0L && nr.getLong(5) == 1000000L)
    // ppm is internally consistent on every edge
    rows.filter(_.getLong(2) > 0).foreach { r =>
      assert(r.getLong(5) ==
        (r.getLong(2) - r.getLong(4)) * 1000000L / r.getLong(2)) }
  }

  test("fd audit: key FDs hold, non-key candidates are violated, ppm consistent") {
    val rows = Ingest.qFdAudit(spark, sf).collect()
    assert(rows.length == 5)
    val byFd = rows.map(r => r.getString(0) -> r).toMap
    // a key determines everything: p_partkey -> p_name must hold
    val key = byFd("part: p_partkey -> p_name")
    assert(key.getLong(4) == 1L && key.getLong(2) == 0L
      && key.getLong(3) == 1L)
    // brand does NOT determine type (TPC-H assigns them independently)
    val brand = byFd("part: p_brand -> p_type")
    assert(brand.getLong(4) == 0L && brand.getLong(2) > 0L
      && brand.getLong(3) > 1L)
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) * 1000000L / r.getLong(1)) }
  }

  test("erasure audit equals a driver-side cascade replay across all four tables") {
    val rows = graft.queries.Ingest.qErasureAudit(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("events", "customer", "orders", "lineitem"))
    import org.apache.spark.sql.functions._
    val ev = graft.io.Tables.events(spark, sf)
      .select(col("user_id")).collect().map(_.getLong(0))
    val cu = graft.io.Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val od = graft.io.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val li = graft.io.Tables.lineitem(spark, sf)
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    def audit(keys: Seq[Long]): (Long, Long, Long) = {
      val f = keys.filter(_ % 17 == 0)
      (f.length.toLong, f.distinct.length.toLong, keys.length.toLong)
    }
    for ((name, keys) <- Seq("events" -> ev.toSeq, "customer" -> cu.toSeq,
      "orders" -> od.map(_._2).toSeq)) {
      val (n, d, t) = audit(keys)
      assert(rows(name) == ((n, d, t, n * 1000000L / t)), name)
    }
    // 2-hop cascade: lineitems of flagged customers' orders
    val flagged = od.filter(_._2 % 17 == 0).toMap
    val hits = li.filter(flagged.contains)
    val subj = hits.map(flagged).distinct.length.toLong
    assert(rows("lineitem") == ((hits.length.toLong, subj,
      li.length.toLong, hits.length * 1000000L / li.length)))
    // cascade can never touch more subjects than the order table shows
    assert(rows("lineitem")._2 <= rows("orders")._2)
  }

  test("merge upsert: the written snapshot round-trips to the read-side latest-wins view, with all three merge classes live") {
    val d = "/root/testdata/sf0.01"
    val written = Ingest.qMergeCompact(spark, d).collect().map(_.toString).toSeq
    val view = graft.queries.Dedup.qDedupLatest(spark, d)
      .collect().map(_.toString).toSeq
    assert(written.nonEmpty && written == view,
      "merged snapshot must equal the read-side latest-wins view")
    // the driver fixture's users are all long-lived (every user appears
    // in both halves at any interior cut), so the fixture run only
    // exercises the matched-UPDATE branch. Exercise all three MERGE
    // branches on an engineered log: u1 only before the midpoint
    // (carry-over), u2 in both halves with the newer version winning
    // (matched update) — including an out-of-order same-user pair —
    // u3 only after (NOT MATCHED insert)
    import spark.implicits._
    val tmp = tempDir("mergeupsert")
    def ts(h: Int) = new java.sql.Timestamp(1700000000000L + h * 3600000L)
    Seq(
      (1L, 10L, ts(0), "view", 1.0),     // u1: carry-over from the base
      (2L, 20L, ts(1), "view", 2.0),     // u2: base version...
      (2L, 21L, ts(9), "purchase", 3.0), // ...updated by the delta
      (2L, 22L, ts(8), "click", 4.0),    // out-of-order older delta loses
      (3L, 30L, ts(7), "view", 5.0))     // u3: pure insert
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Ingest.qMergeCompact(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq
    assert(got == Seq((1L, 10L, "view"), (2L, 21L, "purchase"),
      (3L, 30L, "view")),
      s"merge branches (carry-over / update / insert) broken: $got")
  }

  test("pseudonymization: injective tokens, token join == raw-key join, third-engine token checksum") {
    import graft.io.Tables
    val out = Ingest.qPseudonymize(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.nonEmpty)
    // tokenization must be injective on this corpus (no silent collisions)
    val cust = Tables.customer(spark, sf)
    val nKeys = cust.select("c_custkey").distinct().count()
    val nToks = cust
      .select(md5(concat_ws(":", lit("pepper-42"), col("c_custkey"))))
      .distinct().count()
    assert(nKeys == nToks, "keyed tokens must stay distinct per customer")
    // the token join must reproduce the natural-key join exactly
    val raw = cust
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"),
        "left")
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.view.mapValues(v => (v._1, v._2)).toMap == raw,
      s"pseudonymized join drifted from the raw-key join: $out vs $raw")
    // third-engine checksum: java.security md5 → h32 sum per segment.
    // h32(token) hashes the token STRING (md5 of the md5 hex), matching
    // the engine's h32-of-column semantics.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    def tok32(key: Long): Long =
      java.lang.Long.parseLong(
        md5hex(md5hex(s"pepper-42:$key")).substring(0, 8), 16)
    val refSums = cust.select("c_mktsegment", "c_custkey").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => tok32(r.getLong(1))).sum).toMap
    assert(out.view.mapValues(_._3).toMap == refSums,
      "token checksum drifted from the independent md5 recompute")
  }
}
