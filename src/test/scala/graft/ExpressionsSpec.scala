package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.plans.GraftExtensions

/** Specs for the native Catalyst kernels (graft.plans): exact parity with
  * the composed built-in forms they replace, null behavior, and SQL-name
  * registration via GraftExtensions. */
class ExpressionsSpec extends SparkSpec {

  private def randVec(seed: Int, n: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextDouble() * 2 - 1)
  }

  test("cosine_sim is bit-identical to the composed zip_with/aggregate form") {
    import spark.implicits._
    val data = (1 to 50).map(i => (randVec(i, 64), randVec(i + 1000, 64)))
      .toDF("a", "b")
    val composed =
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(transform(col("a"), x => x * x), lit(0.0), (acc, x) => acc + x)) *
         sqrt(aggregate(transform(col("b"), x => x * x), lit(0.0), (acc, x) => acc + x)))
    val rows = data.select(
      VectorFunctions.cosineSim(col("a"), col("b")).as("kernel"),
      composed.as("composed")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"kernel ${r.getDouble(0)} != composed ${r.getDouble(1)} (must be bit-identical)"))
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val data = (1 to 100).map { _ =>
      def set() = r.shuffle((1 to 60).toList).take(r.nextInt(30) + 1)
        .map(i => s"tok$i").distinct.sorted
      (set(), set())
    }.toDF("a", "b")
    val rows = data.select(
      VectorFunctions.sortedIntersectCount(col("a"), col("b")).as("kernel"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("argmin_cell is identical to the composed array_min/struct form, incl. SQL name") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // 40 vectors against a 6-cell centroid table, with two deliberately
    // DUPLICATED centroids (cells 4 and 5) so the lowest-cell tie-break
    // is actually exercised
    val cells = (0 until 4).map(c => (c.toLong, randVec(901 + c, 16))) ++
      Seq((4L, randVec(990, 16)), (5L, randVec(990, 16)))
    val vecs = (1 to 40).map(i => randVec(i, 16)).toDF("v")
    val cs = cells.toDF("cell", "cv")
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cs"))
    val composed = array_min(transform(col("cs"), c =>
      struct(
        aggregate(zip_with(col("v"), c.getField("cv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("d2"),
        c.getField("cell").as("cell")))).getField("cell")
    val rows2 = vecs.crossJoin(cs)
      .select(col("v"), col("cs"),
        VectorFunctions.argMinCell(col("v"), col("cs")).as("kernel"),
        composed.as("composed"),
        expr("argmin_cell(v, cs)").as("sqlname")).collect()
    rows2.foreach { r =>
      assert(r.getLong(2) == r.getLong(3),
        s"kernel ${r.getLong(2)} != composed ${r.getLong(3)}")
      assert(r.getLong(2) == r.getLong(4), "SQL name disagrees with Column façade")
    }
    // a tied vector must pick the LOWER of the duplicated cells (4, not 5)
    val tied = Seq(randVec(990, 16)).toDF("v").crossJoin(cs)
      .select(VectorFunctions.argMinCell(col("v"), col("cs"))).collect()(0).getLong(0)
    assert(tied == 4L, s"tie must break to the lowest cell, got $tied")
  }

  test("adc_sum: kernel == composed map fold, OOB/null-slot -> NULL, codegen compiles") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val K = 16; val M = 4
    val r = new scala.util.Random(7)
    // random codes + dense tables with a few null holes NO code indexes
    val rows = (1 to 40).map { _ =>
      val codes = Seq.fill(M)(r.nextInt(K).toLong)
      val tab = Seq.tabulate(M * K) { k =>
        val m = k / K; val c = (k % K).toLong
        if (!codes.contains(c) && r.nextInt(5) == 0) None
        else Some(r.nextInt(1000000).toLong)
      }
      (codes, tab)
    }
    val df = rows.toDF("codes", "tab")
    val out = df.select(
      VectorFunctions.adcSum(col("codes"), col("tab"), K).as("kernel"),
      aggregate(
        zip_with(col("codes"), sequence(lit(0L), lit((M - 1).toLong)),
          (code, m) => element_at(col("tab"), (m * K + code + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x).as("composed")).collect()
    out.foreach(r0 => assert(r0.getLong(0) == r0.getLong(1),
      s"kernel ${r0.getLong(0)} != composed ${r0.getLong(1)}"))
    // a code pointing at a null slot, or past the table, yields NULL
    val bad = Seq(
      (Seq(0L), Seq(Option.empty[Long])),          // null slot indexed
      (Seq(5L), Seq(Option(1L), Option(2L)))       // OOB index
    ).toDF("codes", "tab")
      .select(VectorFunctions.adcSum(col("codes"), col("tab"), 16)).collect()
    assert(bad.forall(_.isNullAt(0)))
    // SQL name + empty codes -> 0 (empty sum)
    val viaSql = spark.sql(
      "SELECT adc_sum(CAST(array() AS ARRAY<BIGINT>), array(1L, 2L), 2)").collect()(0)
    assert(viaSql.getLong(0) == 0L)
    // codegen must actually compile (no silent interpreted fallback)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val expr = graft.plans.AdcSum(
      BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = true), nullable = true),
      Literal(K))
    GenerateUnsafeProjection.generate(Seq(expr)) // throws if codegen broken

    // interpreted path (eval/nullSafeEval) must agree with codegen on the
    // same normal / OOB / null-slot cases — the DataFrame run above only
    // exercises whole-stage codegen, so a divergence between the two loop
    // bodies would otherwise pass the suite
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def litArr(xs: Seq[java.lang.Long]): Literal = Literal.create(
      new GenericArrayData(xs.map(x => if (x == null) null else x.longValue())
        .toArray[Any]),
      ArrayType(LongType, containsNull = true))
    def evalAdc(codes: Seq[java.lang.Long], tab: Seq[java.lang.Long]): Any =
      graft.plans.AdcSum(litArr(codes), litArr(tab), Literal(2)).eval(null)
    // stride 2, M = 2: tab = [t00 t01 | t10 t11]
    assert(evalAdc(Seq(1L, 0L), Seq(10L, 20L, 30L, 40L)) == 50L) // 20 + 30
    assert(evalAdc(Seq(0L, 3L), Seq(10L, 20L, 30L, 40L)) == null) // OOB
    assert(evalAdc(Seq(1L, 1L), Seq(10L, null, 30L, 40L)) == null) // null slot
    assert(evalAdc(Seq(null, 0L), Seq(10L, 20L, 30L, 40L)) == null) // null code
    assert(evalAdc(Seq.empty, Seq(10L, 20L)) == 0L) // empty sum
    // and the interpreted results equal the codegen results row-for-row on
    // the random fixture above (project the same exprs through eval)
    rows.foreach { case (codes, tab) =>
      val got = graft.plans.AdcSum(
        litArr(codes.map(java.lang.Long.valueOf)),
        litArr(tab.map(o => o.map(java.lang.Long.valueOf).orNull)),
        Literal(K)).eval(null)
      val want = codes.zipWithIndex
        .map { case (c, m) => tab(m * K + c.toInt).get }.sum
      assert(got == want, s"interpreted adc_sum $got != $want")
    }
  }

  test("topk_min: bounded heap == sort-take over many partitions; NULL throws; SQL name") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val r = new scala.util.Random(11)
    // 3 groups × 5000 rows spread over 13 partitions: exercises the full
    // partial-update → serialize → merge → eval path with heavy score ties
    // (scores drawn from 0..999, so tie-break by id is load-bearing)
    val rows = (1 to 15000).map(i => (i % 3L, r.nextInt(1000).toLong, i.toLong))
    val got = rows.toDF("g", "score", "id").repartition(13)
      .groupBy("g")
      .agg(VectorFunctions.topkMin(col("score"), col("id"), 50).as("top"))
      .collect()
      .map(row => row.getLong(0) -> row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
        .map(p => (p.getLong(0), p.getLong(1))).toList).toMap
    val want = rows.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sorted.take(50).toList).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, xs) => assert(xs == want(g), s"group $g mismatch") }
    // k larger than the input: everything, ascending
    val small = Seq((5L, 1L), (3L, 2L), (5L, 0L)).toDF("score", "id")
      .agg(VectorFunctions.topkMin(col("score"), col("id"), 10))
      .collect()(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
      .map(p => (p.getLong(0), p.getLong(1))).toList
    assert(small == List((3L, 2L), (5L, 0L), (5L, 1L)))
    // NULL score must THROW (the fail-loud ADC contract), never rank:
    // Spark's nulls-first ascending default would otherwise report a
    // construction bug as the nearest neighbor
    val ex = intercept[Exception] {
      Seq((Option(1L), 1L), (Option.empty[Long], 2L)).toDF("score", "id")
        .agg(VectorFunctions.topkMin(col("score"), col("id"), 5)).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(msgs.contains("topk_min"), s"expected topk_min fail-loud, got: $msgs")
    // SQL name registered via extensions
    val viaSql = spark.sql(
      "SELECT topk_min(x, i, 2) FROM VALUES (3L, 1L), (1L, 2L), (2L, 3L) AS t(x, i)")
      .collect()(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
      .map(p => (p.getLong(0), p.getLong(1))).toList
    assert(viaSql == List((1L, 2L), (2L, 3L)))
  }

  test("hll_det: SQL name, NULL ignored, out-of-range hash fail-loud, partition-count-free") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // SQL name via extensions: two distinct hashes land in two registers
    val viaSql = spark.sql(
      "SELECT size(filter(hll_det(h), r -> r > 0)) FROM VALUES (1L), (16777217L) AS t(h)")
      .collect()(0).getInt(0)
    assert(viaSql == 2, "two distinct top-byte hashes must hit two registers")
    // NULL hashes are ignored (countDistinct semantics), not counted
    val withNull = Seq(Option(1L), None, Option(1L)).toDF("h")
      .agg(VectorFunctions.hllDet(col("h"))).collect()(0)
      .getAs[scala.collection.Seq[Int]](0)
    assert(withNull.count(_ > 0) == 1)
    // a hash outside [0, 2^32) throws (the oracle-parity contract), never
    // silently wraps into a wrong register
    val ex = intercept[Exception] {
      Seq(-1L).toDF("h").agg(VectorFunctions.hllDet(col("h"))).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(msgs.contains("hll_det"), s"expected hll_det fail-loud, got: $msgs")
    // the full partial -> serialize -> merge -> eval path is partition-free
    // (md5-derived hashes — the h32 discipline; a structured synthetic
    // sequence like i·c mod 2³² is Weyl-patterned in its low bits and
    // breaks HLL's uniform-hash assumption)
    val hdf = spark.range(1, 5001)
      .select(graft.core.TextPipeline.h32(col("id").cast("string")).as("h"))
    def regs(parts: Int) = hdf.repartition(parts)
      .agg(VectorFunctions.hllDet(col("h"))).collect()(0)
      .getAs[scala.collection.Seq[Int]](0)
    assert(regs(1) == regs(17), "registers differ across partition counts")
    // RAW-branch accuracy pin (the fixture queries all sit in the
    // linear-counting branch, which ignores the harmonic sum — this is
    // the test that catches a wrong alpha*m^2*2^25 scaling): 5000
    // md5-mixed distinct hashes fill every register, and the estimate
    // must land within 3 standard errors (3 * 1.04/sqrt(256) ~= 20%)
    val est = hdf
      .agg(graft.plans.HllDet.estimate(
        VectorFunctions.hllDet(col("h")))).collect()(0).getDouble(0)
    assert(regs(1).forall(_ > 0), "5000 mixed hashes must fill all 256 registers")
    assert(math.abs(est - 5000.0) / 5000.0 <= 0.20,
      s"raw-branch estimate $est vs true 5000 drifts > 20%")
  }

  test("normalized_tokens kernel == composed split/regexp/lower/filter form, incl. fixture text and nasty inputs") {
    import spark.implicits._
    // adversarial inputs: consecutive/leading/trailing spaces, tabs
    // inside tokens, digits/punct-only tokens (stripped to empty), mixed
    // case, non-ASCII (precomposed + decomposed + CJK + emoji), empty
    // string, NULL, and a Kelvin-sign K (U+212A — must NOT fold to 'k':
    // the regex strips it before lower() ever sees it)
    val nasty = Seq(
      "Hello,  World!!", " a  b ", "ab\tcd ef", "123 4a5b6 ...", "",
      "Café Café te­st", "日本語 tokën",
      "K elvin", "UPPER lower MiXeD", "😀emoji face😀",
      "  ", "a"
    ).toDF("text")
    val fixture = spark.read.parquet(s"$sf/documents.parquet").select("text")
    for (df <- Seq(nasty, fixture)) {
      val rows = df.select(
        VectorFunctions.normalizedTokens(col("text")).as("kernel"),
        filter(transform(split(col("text"), " ", -1),
            t => lower(regexp_replace(t, "[^a-zA-Z]", ""))),
          x => x =!= "").as("composed")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"kernel ${r.getSeq[String](0)} != composed ${r.getSeq[String](1)}")
      }
    }
    // NULL text -> NULL array (same as the composed chain)
    val n = Seq(Option.empty[String]).toDF("text")
      .select(VectorFunctions.normalizedTokens(col("text"))).collect()(0)
    assert(n.isNullAt(0))
    // SQL name registered
    GraftExtensions.install(spark)
    assert(spark.sql("SELECT normalized_tokens(' Ab1 2c ') AS t")
      .collect()(0).getSeq[String](0) == Seq("ab", "c"))
  }

  test("h32 kernel == composed conv/substring/md5 chain, incl. fixture text and nasty inputs") {
    import spark.implicits._
    // adversarial: empty string, single char, long text, unicode
    // (multi-byte UTF-8 — the digest runs over the UTF-8 BYTES, exactly
    // like Spark's md5()), digits/punct, embedded NULs, and values whose
    // first md5 byte has the high bit set (the unsigned-read edge: a
    // signed int32 read would go negative there)
    val nasty = Seq(
      "", "a", "hello world", "x" * 10000, "日本語 tokën 😀",
      "123:45", "a\u0000b", "0", ":", "doc-42:7"
    ).toDF("t")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text").as("t"))
    for (df <- Seq(nasty, fixture)) {
      val rows = df.select(
        VectorFunctions.h32(col("t")).as("kernel"),
        conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long")
          .as("composed")).collect()
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"h32 kernel ${r.getLong(0)} != composed ${r.getLong(1)}")
      }
    }
    // h60 (15 hex chars) pinned against its composed chain the same way
    for (df <- Seq(nasty, fixture)) {
      val rows = df.select(
        VectorFunctions.h60(col("t")).as("kernel"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long")
          .as("composed")).collect()
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"h60 kernel ${r.getLong(0)} != composed ${r.getLong(1)}")
      }
    }
    // unsigned range: h32 is always in [0, 2^32)
    val mx = nasty.select(max(VectorFunctions.h32(col("t")))).collect()(0).getLong(0)
    assert(mx >= 0L && mx < (1L << 32))
    // NULL -> NULL, same as the composed chain
    val n = Seq(Option.empty[String]).toDF("t")
      .select(VectorFunctions.h32(col("t"))).collect()(0)
    assert(n.isNullAt(0))
    // SQL name registered
    GraftExtensions.install(spark)
    assert(spark.sql("SELECT h32('abc') AS h").collect()(0).getLong(0) ==
      java.lang.Long.parseLong("900150983cd24fb0".take(8), 16))
    assert(spark.sql("SELECT h60('abc') AS h").collect()(0).getLong(0) ==
      java.lang.Long.parseLong("900150983cd24fb0".take(15), 16))
  }

  test("kernels are null-safe (null input -> null output)") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    val out = df.select(VectorFunctions.cosineSim(col("a"), col("b"))).collect()(0)
    assert(out.isNullAt(0))
  }

  test("GraftExtensions.install registers the SQL names on a live session") {
    GraftExtensions.install(spark)
    val v = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
      "sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS i")
      .collect()(0)
    assert(math.abs(v.getDouble(0) - 1.0) < 1e-12)
    assert(v.getInt(1) == 2)
  }

  test("SQL misuse fails at analysis: wrong types and wrong arity") {
    GraftExtensions.install(spark)
    // wrong input types -> analysis-time type-check failure, not an
    // executor ClassCastException
    val t = intercept[Exception](spark.sql("SELECT cosine_sim('a', 'b')").collect())
    assert(t.getMessage.contains("ARRAY<DOUBLE>") || t.getMessage.contains("DATATYPE_MISMATCH"),
      s"expected a type-check message, got: ${t.getMessage}")
    val t2 = intercept[Exception](spark.sql("SELECT simhash32(array('x'))").collect())
    assert(t2.getMessage.contains("ARRAY<BIGINT>") || t2.getMessage.contains("DATATYPE_MISMATCH"))
    // wrong arity -> clear builder-side message, not IndexOutOfBounds
    val a = intercept[Exception](
      spark.sql("SELECT sorted_intersect_count(array('a'))").collect())
    // Spark may wrap the builder's IllegalArgumentException during function
    // resolution (WRONG_NUM_ARGS-style) — accept the message on the
    // exception itself or anywhere down its cause chain
    val msgs = Iterator.iterate(a: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("exactly 2") || msgs.contains("WRONG_NUM_ARGS"), s"got: $msgs")
  }

  test("shingle_posting generator equals explode(array_distinct(windows)) + size") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b a b",              // duplicate shingles -> distinct matters
      "one two",                      // < 3 tokens -> zero rows
      "x y z",                        // exactly one shingle
      "repeat repeat repeat repeat"   // all windows identical
    ).zipWithIndex.map { case (t, i) => (i.toLong, t.split(" ").toSeq) }
      .toDF("doc_id", "w")
    // composed reference form (the plan shape Dedup used before the UDTF)
    val tri = zip_with(
      zip_with(col("w"), slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y)),
      slice(col("w"), lit(3), greatest(size(col("w")) - 2, lit(0))),
      (xy, z) => concat(xy, lit(" "), z))
    val composed = docs
      .select(col("doc_id"), array_distinct(filter(tri, t => t.isNotNull)).as("s"))
      .select(col("doc_id"), size(col("s")).as("n_shingles"), explode(col("s")).as("shingle"))
      .select("doc_id", "shingle", "n_shingles")
      .collect().map(_.toString).sorted.toSeq
    val viaGen = docs
      .select(col("doc_id"), VectorFunctions.shinglePosting(col("w"), 3))
      .select("doc_id", "shingle", "n_shingles")
      .collect().map(_.toString).sorted.toSeq
    assert(viaGen == composed)
    // SQL-name path: registered as a table function via GraftExtensions
    GraftExtensions.install(spark)
    docs.createOrReplaceTempView("sp_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, shingle, n_shingles FROM sp_docs " +
      "LATERAL VIEW shingle_posting(w, 3) sp AS shingle, n_shingles")
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == composed)
    // integral width literals implicitly cast to INT (ImplicitCastInputTypes)
    val viaCast = spark.sql(
      "SELECT doc_id, shingle, n_shingles FROM sp_docs " +
      "LATERAL VIEW shingle_posting(w, CAST(3 AS BIGINT)) sp AS shingle, n_shingles")
      .collect().map(_.toString).sorted.toSeq
    assert(viaCast == composed)
    // misuse fails at analysis: wrong input type, non-constant width
    GraftExtensions.install(spark)
    val bad = intercept[Exception](
      spark.sql("SELECT shingle_posting(array(1,2,3), 3)").collect())
    assert(bad.getMessage.contains("ARRAY<STRING>") ||
      bad.getMessage.contains("DATATYPE_MISMATCH"), s"got: ${bad.getMessage}")
  }

  test("len_histogram UDAF clamps non-positive lengths instead of throwing") {
    import graft.functions.LenHistogram
    val h = LenHistogram.reduce(LenHistogram.zero, Seq(0, -3, 1, 8, 99))
    assert(h.counts(0) == 3)                      // 0, -3, 1 all clamp to bucket 0
    assert(h.counts(LenHistogram.NumBuckets - 1) == 2) // 8 and 99 cap at the top
    assert(h.counts.sum == 5)
  }

  test("interpreted (non-codegen) path agrees with codegen path") {
    // eval() is exercised directly through the expression, codegen through
    // a wholestage query; both must produce the same doubles
    import graft.plans.CosineSimilarity
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = randVec(42, 16); val b = randVec(43, 16)
    val e = CosineSimilarity(
      Literal.create(a, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      Literal.create(b, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    import spark.implicits._
    val viaQuery = Seq((a, b)).toDF("a", "b")
      .select(VectorFunctions.cosineSim(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(interpreted == viaQuery)
  }

  test("entropy_qsum: kernel == composed round(c*log2(c)*1e6) == SQL name") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val r = new scala.util.Random(11)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g")
    // skewed multiplicities so counts range 1..~40, plus edge arrays
    val data = ((1 to 60).map { _ =>
      val n = r.nextInt(80) + 1
      Seq.fill(n)(vocab(math.min(r.nextInt(7), r.nextInt(7))))
    } ++ Seq(Seq("x"), Seq("y", "y", "y"))).toDF("w")
    val composedRows = data
      .select(col("w"), explode(col("w")).as("t"))
      .groupBy("w", "t").agg(count(lit(1)).as("c"))
      .groupBy("w")
      .agg(sum(round(col("c").cast("double") * log2(col("c").cast("double"))
        * lit(1000000.0), 0).cast("long")).as("q"))
    val out = composedRows
      .withColumn("kernel", VectorFunctions.entropyQsum(col("w")))
      .collect()
    out.foreach(r0 => assert(r0.getLong(1) == r0.getLong(2),
      s"composed ${r0.getLong(1)} != kernel ${r0.getLong(2)} for ${r0.getSeq[String](0)}"))
    // SQL-registered name, and empty-array / all-distinct identities
    val sql = spark.sql(
      "SELECT entropy_qsum(CAST(array() AS ARRAY<STRING>)), " +
        "entropy_qsum(array('p','q','r'))").collect()(0)
    assert(sql.getLong(0) == 0L, "empty array contributes no mass")
    assert(sql.getLong(1) == 0L, "all-distinct tokens (c=1) contribute 0")
    val viaSql = Seq(Seq("z", "z", "z", "w")).toDF("w")
      .createOrReplaceTempView("eq_t")
    val k = spark.sql("SELECT entropy_qsum(w) FROM eq_t").collect()(0).getLong(0)
    // 3*log2(3)*1e6 rounded = 4754888 (the DuckDB-verified grid value)
    assert(k == 4754888L, s"got $k")
  }

  test("entropy_qsum generated code COMPILES (no interpreted fallback) and matches eval") {
    // Janino ignores generic type arguments, so generics in the generated
    // source previously made compilation fail and every query silently ran
    // the interpreted fallback. Compile the projection directly — the
    // non-fallback generator throws on any codegen compile error.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.EntropyQsum

    val expr = EntropyQsum(
      BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws if codegen is broken

    def arr(toks: (String)*): GenericArrayData =
      new GenericArrayData(toks.map(t => if (t == null) null else UTF8String.fromString(t)).toArray[Any])
    val cases: Seq[GenericArrayData] = Seq(
      arr("a", "a", "b"),
      arr(null, ""),                  // null skipped, "" counted once -> 0
      arr("", "", null, "x", ""),     // c("")=3 regardless of row format
      arr(null, null),                // all-null -> 0
      arr())
    cases.foreach { a =>
      val row = InternalRow(a)
      val viaCodegen = proj(row).getLong(0)
      val viaEval = expr.eval(row).asInstanceOf[Long]
      assert(viaCodegen == viaEval, s"codegen $viaCodegen != eval $viaEval")
    }
    // null vs "" must be distinguishable and representation-independent:
    // [null, ""] has one counted token (c=1 -> 0); ["","",null] has c=2.
    assert(expr.eval(InternalRow(arr(null, ""))) == 0L)
    assert(expr.eval(InternalRow(arr("", "", null))) == EntropyQsum.quant(2L))
    assert(proj(InternalRow(arr("", "", null))).getLong(0) == EntropyQsum.quant(2L))
  }

  test("nfc UDF: composes NFD, idempotent, canonical-only, null-safe") {
    import spark.implicits._
    val nfc = graft.queries.TextAnalysis.nfc
    val cases = Seq(
      "da\u0301ta\u0301" -> "d\u00E1t\u00E1", // NFD a + U+0301 composes to U+00E1
      "d\u00E1t\u00E1" -> "d\u00E1t\u00E1",   // already NFC: unchanged
      // canonical-only: full-width compatibility forms are NOT folded
      // (that would be NFKC) — width survives normalization
      "\uFF22\uFF29\uFF27" -> "\uFF22\uFF29\uFF27",
      "i\u0307" -> "i\u0307",                   // no precomposed form: kept
      "plain ascii text" -> "plain ascii text")
    val rows = cases.map(_._1).toDF("s")
      .select(col("s"), nfc(col("s")).as("once"), nfc(nfc(col("s"))).as("twice"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    cases.foreach { case (in, want) =>
      val (once, twice) = rows(in)
      assert(once == want, s"NFC of ${in.map(_.toInt.toHexString)}: " +
        s"${once.map(_.toInt.toHexString)}")
      assert(twice == once, "NFC must be idempotent")
    }
    val nul = Seq(Option.empty[String]).toDF("s").select(nfc(col("s")))
      .collect()(0)
    assert(nul.isNullAt(0), "NULL in, NULL out")
  }

  test("unicode tokenizer fine points: combining marks kept, full-width distinct from ASCII, Turkish-I fold explicit, em-dash splits") {
    // the one casefold divergence the chain pre-maps: Java lower() of the
    // Turkish dotted capital yields i + COMBINING DOT ABOVE (2 code
    // points); DuckDB's lower() yields bare i — so the query spells the
    // full Unicode fold explicitly BEFORE lower on both engines
    assert("\u0130".toLowerCase(java.util.Locale.ROOT) == "i\u0307",
      "JDK Turkish-I lowering changed — re-audit the explicit fold")
    val toks = graft.queries.TextAnalysis.qUnicodeTokens(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // decorated forms present with exact codepoints
    assert(toks.contains("d\u00E1t\u00E1"), s"NFD input must surface as precomposed: ${toks.keys.filter(_.startsWith("d"))}")
    assert(toks.contains("\uFF42\uFF49\uFF47"), "full-width big must lowercase to full-width small, not fold to ASCII")
    assert(toks.contains("fi\u0307lter"), "Turkish fold must keep the combining dot as part of ONE token (marks in class)")
    assert(toks.contains("f\u00E1st"), "NFC-then-casefold must yield precomposed lowercase")
    // em-dash is a non-letter: slow\u2014down splits into two tokens
    assert(toks.contains("slow") && toks.contains("down"))
    assert(toks("slow") == toks("down"), "every decorated slow produced exactly one down")
    // raw decorated words are gone (decoration replaced every whole-word
    // occurrence before tokenization)
    Seq("data", "big", "filter", "fast").foreach(w =>
      assert(!toks.contains(w), s"undiversified token $w survived decoration"))
    // and the full-width token is NOT the ASCII token
    assert(!toks.contains("big") && toks.contains("\uFF42\uFF49\uFF47"))
  }
}
