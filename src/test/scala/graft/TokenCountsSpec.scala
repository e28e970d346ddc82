package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, ExtensionsProbe}
import graft.core.TextPipeline
import graft.plans.{FuseTokenCount, GraftExtensions, TokenCountTable, TokenCounts, TokenCountsExec, TokenCountsStrategy}
import graft.queries.{Extras, WordCount}

/** The fused map-side word count (FuseTokenCount → TokenCountsExec):
  * where it fires, where it must not, and that fused and unfused plans
  * agree row for row with identical schemas. The unfused plan is the same
  * query with the rule turned off through Spark's own
  * `spark.sql.optimizer.excludedRules`. */
class TokenCountsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def fused(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[TokenCounts])

  /** Build and plan `q` with the rule excluded. */
  private def unfused(q: => DataFrame): DataFrame = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, FuseTokenCount.ruleName)
    try { val df = q; df.queryExecution.optimizedPlan; df }
    finally spark.conf.unset(key)
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The rule fires on `q`, and the fused result equals the unfused one. */
  private def assertFusedSame(q: => DataFrame): DataFrame = {
    val on = q
    val off = unfused(q)
    assert(fused(on), s"rule did not fire:\n${on.queryExecution.optimizedPlan}")
    assert(!fused(off))
    assert(on.schema == off.schema, s"${on.schema} != ${off.schema}")
    assert(sorted(on) == sorted(off))
    on
  }

  /** Distinct lowercase words: base-26 spelling of `i`. */
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    while ({ sb.append(('a' + n % 26).toChar); n /= 26; n > 0 }) ()
    sb.toString
  }

  private def wc(df: DataFrame, text: String = "text"): DataFrame =
    TextPipeline.words(df, text).groupBy("word").agg(count(lit(1)).as("cnt"))

  private def distinctWords(df: DataFrame, text: String = "text"): DataFrame =
    TextPipeline.words(df, text).agg(countDistinct(col("word")).as("n_words"))

  /** A TokenCountsExec metric of `df`'s last run, summed over its nodes. */
  private def metric(df: DataFrame, name: String): Long =
    collect(df.queryExecution.executedPlan) { case t: TokenCountsExec => t.metrics(name).value }.sum

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Text splits of at most 64 bytes, so split boundaries fall inside
    * tokens, lines and CRLF pairs. */
  private val tinySplits = Seq(
    "spark.sql.files.maxPartitionBytes" -> "64", "spark.sql.files.openCostInBytes" -> "0")

  /** Word count and distinct count over `spark.read.text(dir)`: fused ==
    * unfused, and the fused plan read its splits in place iff `inPlace`.
    * Returns the fused word counts. */
  private def assertTextSame(dir: String, opts: Map[String, String] = Map.empty,
      inPlace: Boolean = true): Map[String, Long] = {
    def text = spark.read.options(opts).text(dir)
    val on = assertFusedSame(wc(text, "value"))
    val d = assertFusedSame(distinctWords(text, "value"))
    for (q <- Seq(on, d)) {
      val splits = metric(q, "numInPlaceSplits")
      assert(if (inPlace) splits > 0 else splits == 0, s"$splits splits read in place")
    }
    on.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def write(dir: String, name: String, bytes: Array[Byte]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)

  /** Text whose 64-byte split boundaries fall between a CR and its LF
    * (offset 64, with CRLF endings), inside a 4-byte character (128) and
    * inside a token (192), followed by the adversarial lines and a few KB
    * of words. */
  private def boundaryText(eol: String, trailing: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    def put(s: String): Unit = out.write(s.getBytes("UTF-8"))
    def padTo(at: Int): Unit = { put("b" * (at - out.size - 1)); put(" ") }
    put("x" * 63); put(eol)
    padTo(126); put("😀moji Boundary"); put(eol)
    padTo(186); put("Spanning token"); put(eol)
    val lines = Seq("a\tb c\t", "123 4567 8", "don't COVID-19 Mix3d", "😀emoji 𝔘nicode café",
      "日本語 テキスト ok", "  lead trail  ", "a  b   a", "", "   ") ++
      (0 until 300).map(i => (i until i + 7).map(j => word(j % 97)).mkString(" "))
    put(lines.mkString(eol))
    if (trailing) put(eol)
    out.toByteArray
  }

  test("adversarial lines: fused == unfused, same schema") {
    val lines = Seq[Option[String]](
      None, Some(""), Some("   "), Some(" "), Some("\t\t"), Some("a\tb c\t"),
      Some("123 4567 8"), Some("!!! ... ,;: -"), Some("don't COVID-19 Mix3d"),
      Some("MiXeD mixed MIXED mIxEd"), Some("😀emoji 𝔘nicode café Café CAFÉ"),
      Some("日本語 テキスト ok"), Some("  lead trail  "), Some("a  b   a"))
    val df = lines.toDF("text")
    assertFusedSame(wc(df))
    assertFusedSame(distinctWords(df))
    assert(wc(df).collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 2L, "b" -> 1L, "ab" -> 1L, "c" -> 1L, "dont" -> 1L, "covid" -> 1L,
        "mixd" -> 1L, "mixed" -> 4L, "emoji" -> 1L, "nicode" -> 1L,
        "caf" -> 3L, "ok" -> 1L, "lead" -> 1L, "trail" -> 1L))
  }

  test("empty input, all-NULL and all-blank input") {
    // an empty LocalRelation is folded away before the rule runs; an empty
    // file is not
    val dir = java.nio.file.Paths.get(tempDir("tc_empty"))
    java.nio.file.Files.write(dir.resolve("empty.txt"), Array.emptyByteArray)
    val empty = spark.read.text(dir.toString).withColumnRenamed("value", "text")
    assert(assertFusedSame(wc(empty)).count() == 0)
    assert(assertFusedSame(distinctWords(empty)).head().getLong(0) == 0L)
    assertFusedSame(wc(Seq(Option.empty[String], None).toDF("text")))
    val blank = Seq("", "   ", "1 2 3").toDF("text")
    assert(assertFusedSame(wc(blank)).count() == 0)
    assert(assertFusedSame(distinctWords(blank)).head().getLong(0) == 0L)
  }

  test("a 1 MB line and a 1 MB token") {
    val line = (0 until 280000).map(i => word(i % 4000)).mkString(" ")
    assert(line.length > 1000000)
    val df = Seq(line, "x" * 1000000 + " tail", "tail").toDF("text")
    val on = assertFusedSame(wc(df))
    assert(on.filter(col("word") === "tail").head().getLong(1) == 2L)
    assertFusedSame(distinctWords(df))
  }

  test("a vocabulary past the table cap flushes in one partition, same counts") {
    val v = TokenCountTable.MaxWords + 4000
    // every word twice, the second time after the first flush
    val lines = (0 until 2 * v).map(i => word(i % v)).grouped(10).map(_.mkString(" ")).toSeq
    val df = lines.toDF("text").coalesce(1)
    val on = assertFusedSame(wc(df))
    val flushes = collect(on.queryExecution.executedPlan) {
      case t: TokenCountsExec => t.metrics("numFlushes").value
    }
    assert(flushes.sum >= 1, s"no flush: $flushes")
    assert(on.count() == v)
    assert(on.filter(col("cnt") =!= 2L).count() == 0)
    assertFusedSame(distinctWords(df))
  }

  test("text splits read in place: LF, CRLF, lone CR, no trailing newline, tiny splits") {
    for ((eol, trailing) <- Seq(("\n", true), ("\r\n", true), ("\r", true), ("\n", false))) {
      val dir = tempDir("tc_eol")
      val bytes = boundaryText(eol, trailing)
      write(dir, "part.txt", bytes)
      if (eol == "\r\n") assert(bytes(63) == '\r' && bytes(64) == '\n')
      assert(bytes(127) == 0x9f.toByte && bytes(191) == 'i') // 😀 is F0 9F 98 80
      val whole = assertTextSame(dir)
      assert(whole("x" * 63) == 1 && whole("moji") == 1 && whole("spanning") == 1)
      assert(whole("caf") == 1 && whole("nicode") == 1 && whole("ok") == 1)
      assert(withConf(tinySplits: _*)(assertTextSame(dir)) == whole)
      // the 64-byte splits really are 64 bytes: one task per split
      withConf(tinySplits: _*) {
        val parts = spark.read.text(dir).rdd.getNumPartitions
        assert(parts == (bytes.length + 63) / 64, s"$parts partitions for ${bytes.length} B")
      }
    }
  }

  test("text splits read in place: a directory of several files, an empty one among them") {
    val dir = tempDir("tc_dir")
    write(dir, "a.txt", boundaryText("\n"))
    write(dir, "b.txt", boundaryText("\r\n", trailing = false))
    write(dir, "empty.txt", Array.emptyByteArray)
    write(dir, "tiny1.txt", "one Two\n".getBytes("UTF-8"))
    write(dir, "tiny2.txt", "three one".getBytes("UTF-8"))
    val whole = assertTextSame(dir)
    assert(whole("one") == 2 && whole("two") == 1 && whole("three") == 1)
    // all files in one partition, then many small files per 64-byte partition
    withConf("spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1") {
      assert(spark.read.text(dir).rdd.getNumPartitions == 1)
      assert(assertTextSame(dir) == whole)
    }
    assert(withConf(tinySplits: _*)(assertTextSame(dir)) == whole)
  }

  test("text splits read in place: a 1 MB token across several splits") {
    val dir = tempDir("tc_bigtoken")
    write(dir, "big.txt", ("lead " + "x" * 1000000 + " tail\nnext tail\n").getBytes("UTF-8"))
    withConf("spark.sql.files.maxPartitionBytes" -> (256 * 1024).toString,
        "spark.sql.files.openCostInBytes" -> "0") {
      assert(spark.read.text(dir).rdd.getNumPartitions >= 4)
      assert(assertTextSame(dir) ==
        Map("lead" -> 1L, "x" * 1000000 -> 1L, "tail" -> 2L, "next" -> 1L))
    }
  }

  test("text splits read in place: a vocabulary past the table cap flushes") {
    val v = TokenCountTable.MaxWords + 4000
    val dir = tempDir("tc_vocab")
    val lines = (0 until 2 * v).map(i => word(i % v)).grouped(10).map(_.mkString(" "))
    write(dir, "vocab.txt", lines.mkString("\n").getBytes("UTF-8"))
    val on = assertFusedSame(wc(spark.read.text(dir), "value"))
    assert(metric(on, "numInPlaceSplits") == 1 && metric(on, "numFlushes") >= 1)
    assert(on.count() == v && on.filter(col("cnt") =!= 2L).count() == 0)
  }

  test("text the line reader splits differently takes the row path: gzip, wholetext, lineSep") {
    val text = "a,b c\nd,e\r\nAb ab\n"
    val gz = tempDir("tc_gz")
    val zout = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(gz, "part.txt.gz")))
    try zout.write(text.getBytes("UTF-8")) finally zout.close()
    assert(assertTextSame(gz, inPlace = false) ==
      Map("ab" -> 3L, "c" -> 1L, "de" -> 1L))
    val plain = tempDir("tc_opts")
    write(plain, "part.txt", text.getBytes("UTF-8"))
    assert(assertTextSame(plain) == Map("ab" -> 3L, "c" -> 1L, "de" -> 1L))
    // one value per file: the line breaks are deleted inside tokens
    assert(assertTextSame(plain, Map("wholetext" -> "true"), inPlace = false) ==
      Map("ab" -> 2L, "cdeab" -> 1L))
    assert(assertTextSame(plain, Map("lineSep" -> ","), inPlace = false) ==
      Map("a" -> 1L, "b" -> 1L, "cd" -> 1L, "eab" -> 1L, "ab" -> 1L))
  }

  test("TokenCountTable: packed and byte-keyed entries side by side, first-seen order") {
    val table = new TokenCountTable
    val in = "a aa abcdefgh abcdefghi bcdefghi A AA ABCDEFGH ABCDEFGHI Bcdefghi a abcdefghi"
    graft.plans.NormalizedTokens.scan(org.apache.spark.unsafe.types.UTF8String.fromString(in), table)
    val w = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2)
    val rows = (0 until table.size).map { e =>
      w.reset(); w.zeroOutNullBytes(); table.write(e, w)
      w.getRow.getUTF8String(0).toString -> w.getRow.getLong(1)
    }
    assert(rows == Seq("a" -> 3L, "aa" -> 2L, "abcdefgh" -> 2L, "abcdefghi" -> 3L, "bcdefghi" -> 2L))
  }

  test("the rule fires for every count spelling and countDistinct") {
    val df = Seq("b a b", "c  A", "x1 y2").toDF("text")
    val w = TextPipeline.words(df, "text")
    assertFusedSame(w.groupBy("word").count())
    assertFusedSame(w.groupBy("word").agg(count(lit(1)).as("cnt")))
    assertFusedSame(w.groupBy("word").agg(count(col("word")).as("cnt")))
    assertFusedSame(w.groupBy("word").agg(count(lit(1)).as("n"), count(col("word")).as("m")))
    assertFusedSame(w.agg(countDistinct(col("word")).as("n_words")))
    df.createOrReplaceTempView("tc_docs")
    assertFusedSame(spark.sql(
      "SELECT word, count(*) AS c FROM (SELECT explode(normalized_tokens(text)) AS word " +
        "FROM tc_docs) GROUP BY word"))
    // a computed text expression goes through a projection below the operator
    assertFusedSame(df.select(explode(TextPipeline.normalizedTokens(
      concat(col("text"), lit(" Z")))).as("word")).groupBy("word").count())
    // expressions of the word and of the counts, collapsed into the aggregate
    assertFusedSame(w.groupBy("word").agg(count(lit(1)).as("n"))
      .select(TextPipeline.h32(col("word")).as("h"), (col("n") * 2).as("n2")))
    // isnotnull(word), as the optimizer infers it under a join on word
    assertFusedSame(w.filter(col("word").isNotNull).groupBy("word").count())
  }

  test("q_heavy_hitters: all three word-count branches fuse to one canonical plan") {
    // the branches differ only in what they keep of the counts and in an
    // inferred isnotnull(word); fused alike, their exchanges stay reusable
    val q = graft.queries.TextAnalysis.qHeavyHitters(spark, sf)
    assert(!q.queryExecution.optimizedPlan.toString.contains("normalized_tokens"))
    val tcs = q.queryExecution.sparkPlan.collect { case t: TokenCountsExec => t }
    assert(tcs.size == 3 && tcs.map(_.canonicalized).distinct.size == 1, tcs.mkString("\n"))
    assert(sorted(q) == sorted(unfused(graft.queries.TextAnalysis.qHeavyHitters(spark, sf))))
  }

  test("the rule leaves other shapes alone") {
    val df = Seq(("en", "b a b"), ("de", "c a")).toDF("lang", "text")
    val w = TextPipeline.words(df, "text")
    val untouched = Seq(
      TextPipeline.words(df, "text", keep = Seq("lang")).groupBy("lang", "word").count(),
      df.select(explode_outer(TextPipeline.normalizedTokens(col("text"))).as("word"))
        .groupBy("word").count(),
      w.groupBy("word").agg(sum(lit(1L)).as("s")),
      w.groupBy("word").agg(count(lit(1)).as("n"), max(length(col("word"))).as("l")),
      w.filter(length(col("word")) > 1).groupBy("word").count(),
      w.agg(countDistinct(col("word")).as("d"), count(lit(1)).as("n")),
      Extras.qWordcountSalted(spark, sf))
    untouched.foreach(df => assert(!fused(df), df.queryExecution.optimizedPlan.toString))
  }

  test("registry word counts run fused: TokenCountsExec, no Generate") {
    val q = WordCount.wordcount(spark, sf)
    val plan = q.queryExecution.optimizedPlan
    assert(plan.exists(_.isInstanceOf[TokenCounts]) && !plan.exists(_.isInstanceOf[Generate]))
    assertFusedSame(WordCount.wordcount(spark, sf))
    assertFusedSame(WordCount.wordcountDistinct(spark, sf))
    val orderedOn = WordCount.wordcount(spark, sf).collect().toSeq
    assert(orderedOn == unfused(WordCount.wordcount(spark, sf)).collect().toSeq)
    val fin = Bridge.finalPlanString(q)
    assert(fin.contains("TokenCounts") && !fin.contains("Generate"), fin)
  }

  test("both install paths carry the same rule and strategy; install is idempotent") {
    val (rules, strategies) = ExtensionsProbe.injected(new GraftExtensions, spark)
    assert(rules.contains(FuseTokenCount) && strategies.contains(TokenCountsStrategy))
    GraftExtensions.install(spark)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(exp.extraOptimizations.count(_ == FuseTokenCount) == 1)
    assert(exp.extraStrategies.count(_ == TokenCountsStrategy) == 1)
  }
}
