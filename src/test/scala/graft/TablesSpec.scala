package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.io.{Generation, Tables}

/** Pins the artifact write/read pair of `graft.io.Tables`: the schema a
  * [[Tables.write]] records and [[Tables.read]] replays is exactly the one
  * footer inference would find, rewrites are never served a stale schema,
  * and reading a library-written artifact starts no Spark job. Also pins
  * the build-once scratch helper [[Tables.store]] and the three verbs of
  * an index [[Generation]]. */
class TablesSpec extends SparkSpec {

  private def scratch(tag: String): String =
    tempDir(s"graft_tables_$tag")

  /** Non-nullable scalars, a nested struct, an array, a decimal and a
    * timestamp — the shapes the persisted stores hold. */
  private def rich(): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("pt", StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("tags", ArrayType(StringType, containsNull = false)))),
        nullable = false),
      StructField("codes", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("amt", DecimalType(18, 2)),
      StructField("ts", TimestampType, nullable = false)))
    val rows = (0 until 40).map { i =>
      Row(i.toLong, s"n$i", Row(i * 3, Seq(s"t$i", "x")),
        Seq(i.toLong, i * 2L), new java.math.BigDecimal(s"$i.25"),
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("read after write replays exactly the inferred schema and rows") {
    val path = s"${scratch("rt")}/rich.parquet"
    val df = rich()
    Tables.write(df, path)
    val got = Tables.read(spark, path)
    val inferred = spark.read.parquet(path)
    assert(got.schema == inferred.schema, s"replayed " +
      s"${got.schema.treeString} != inferred ${inferred.schema.treeString}")
    assert(sorted(got) == sorted(df))
    assert(sorted(got) == sorted(inferred))
  }

  test("rewriting a path with a different schema serves the new schema") {
    val path = s"${scratch("rewrite")}/a.parquet"
    Tables.write(rich(), path)
    assert(Tables.read(spark, path).schema.fieldNames.contains("pt"))
    val narrow = spark.range(5).selectExpr("id * 2 AS k", "'v' AS s")
    Tables.write(narrow, path)
    val got = Tables.read(spark, path)
    assert(got.schema == spark.read.parquet(path).schema)
    assert(got.schema.fieldNames.toSeq == Seq("k", "s"))
    assert(sorted(got) == sorted(narrow))
  }

  test("a path rewritten outside the pair is re-inferred, not served stale") {
    val path = s"${scratch("stale")}/a.parquet"
    Tables.write(rich(), path)
    assert(Tables.read(spark, path).schema.fieldNames.contains("pt"))
    val before = new java.io.File(path).lastModified()
    Thread.sleep(20) // a distinct directory mtime for the rewrite
    spark.range(3).selectExpr("id AS other")
      .write.mode("overwrite").parquet(path)
    assert(new java.io.File(path).lastModified() != before)
    val got = Tables.read(spark, path)
    assert(got.schema.fieldNames.toSeq == Seq("other"))
    assert(got.count() == 3)
  }

  test("building a frame over a library-written artifact starts zero jobs") {
    val path = s"${scratch("jobs")}/a.parquet"
    Tables.write(rich(), path)
    val other = s"${scratch("jobs_ctl")}/b.parquet"
    spark.range(3).write.mode("overwrite").parquet(other)
    val n = jobsDuring(
      body = { val df = Tables.read(spark, path); df.queryExecution.analyzed },
      control = spark.read.parquet(other).schema)
    assert(n == 0, s"Tables.read of a written artifact started $n job(s)")
    // and the control itself proves the probe sees inference jobs
    val m = jobsDuring(body = spark.read.parquet(other).schema,
      control = spark.read.parquet(other).schema)
    assert(m >= 1, "footer inference started no job: the probe is blind")
  }

  test("load on a fixture path behaves as a plain parquet read") {
    val path = s"$sf/orders.parquet"
    val loaded = Tables.load(spark, sf, "orders")
    val plain = spark.read.parquet(path)
    assert(loaded.schema == plain.schema)
    assert(loaded.count() == plain.count())
    // a second load replays the cached schema: no inference job
    val n = jobsDuring(body = Tables.load(spark, sf, "orders").schema,
      control = spark.read.parquet(path).schema)
    assert(n == 0)
    assert(Tables.read(spark, path).schema == plain.schema)
  }

  /** A fixture-dir key no other suite uses, so every store test builds. */
  private def freshKey(): String = s"tables_spec_${java.util.UUID.randomUUID}"

  test("store builds once across repeated and concurrent calls") {
    val key = freshKey()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def once(): String = Tables.store("once", key) { root =>
      builds.incrementAndGet()
      Thread.sleep(200) // keep the build open while the others arrive
      Files.writeString(java.nio.file.Paths.get(root, "marker"), "built")
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = { start.await(); once() }
        }))
      start.countDown()
      val roots = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(roots.distinct.size == 1, s"callers saw different roots: $roots")
      // every waiter returned only after the build finished
      assert(new java.io.File(roots.head, "marker").isFile)
      assert(once() == roots.head && once() == roots.head)
    } finally pool.shutdown()
    assert(builds.get == 1, s"${builds.get} builds for one key")
  }

  test("a build may call store for another key") {
    val key = freshKey()
    var inner, outer = 0
    def innerDir() = Tables.store("inner", key) { root =>
      inner += 1
      Files.writeString(java.nio.file.Paths.get(root, "gen0"), "x")
    }
    def outerDir() = Tables.store("outer", key) { root =>
      outer += 1
      val src = innerDir()
      assert(new java.io.File(src, "gen0").isFile, "nested build not done")
      Files.copy(java.nio.file.Paths.get(src, "gen0"),
        java.nio.file.Paths.get(root, "gen1"))
    }
    val o = outerDir()
    assert(new java.io.File(o, "gen1").isFile)
    assert(outerDir() == o && innerDir() != o)
    assert((inner, outer) == ((1, 1)))
  }

  test("a build that throws caches nothing and is retried into the same root") {
    val key = freshKey()
    val seen = scala.collection.mutable.Buffer.empty[String]
    def call(fail: Boolean) = Tables.store("retry", key) { root =>
      seen += root
      if (fail) throw new IllegalStateException("build failed")
    }
    val e = intercept[IllegalStateException](call(fail = true))
    assert(e.getMessage == "build failed")
    val root = call(fail = false)
    assert(seen.toSeq == Seq(root, root), s"builds went to $seen")
    assert(call(fail = true) == root, "a finished build must not re-run")
    assert(seen.size == 2)
  }

  test("a store root is deleted when the JVM exits") {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val proc = new ProcessBuilder(javaBin, "-Xmx256m",
      "-cp", sys.props("java.class.path"), TablesSpecExitProbe.getClass
        .getName.stripSuffix("$"), freshKey())
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, s"probe JVM failed:\n$out")
    val root = out.linesIterator.collectFirst {
      case l if l.startsWith("ROOT ") => l.stripPrefix("ROOT ")
    }.getOrElse(fail(s"probe printed no root:\n$out"))
    assert(root.contains("graft_exitprobe_tables_spec_"), root)
    assert(!new java.io.File(root).exists, s"$root outlived its JVM")
  }

  /** A two-artifact generation keyed on `id` over ids 0..9: `a` (id, x)
    * and `b` (id, y). */
  private def tinyGen(): Generation = Generation.write(spark, scratch("gen0"),
    Map("a" -> aRows(0 until 10), "b" -> bRows(0 until 10)))

  private def aRows(ids: Range): DataFrame =
    spark.range(ids.start, ids.end).selectExpr("id", "id * 10 AS x")

  private def bRows(ids: Range): DataFrame =
    spark.range(ids.start, ids.end).selectExpr("id", "concat('b', id) AS y")

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("generation prune drops exactly the ids that fail keep") {
    val g = tinyGen()
    val root = scratch("prune")
    val p = g.prune(root, col("id") % 3 =!= 0)
    for (n <- Seq("a", "b")) {
      assert(ids(p(n)) == Set(1L, 2L, 4L, 5L, 7L, 8L), n)
      assert(sorted(p(n)) == sorted(g(n).filter(col("id") % 3 =!= 0)), n)
      assert(p.files(n) == s"$root/$n.parquet")
    }
  }

  test("generation append equals base ∪ delta and writes only the artifact it changed") {
    val g = tinyGen()
    val root = scratch("append")
    val c = g.append(root, Map("a" -> aRows(10 until 13)))
    assert(sorted(c("a")) == sorted(aRows(0 until 13)))
    assert(c.files("a") == s"$root/a.parquet")
    // `b` did not change: it stays the parent's file, with no copy
    assert(c.files("b") == g.files("b"))
    assert(sorted(c("b")) == sorted(bRows(0 until 10)))
    assert(!new java.io.File(s"$root/b.parquet").exists,
      "an unchanged artifact was written under the child root")
  }

  test("generation fold equals (base ∪ deltas) left-anti tombstones; a later append of a tombstoned id survives") {
    import spark.implicits._
    val g = tinyGen()
    val root = scratch("fold")
    val tomb = Seq(0L, 3L, 11L, 13L).toDF("id")
    // two deltas; the second carries `a` rows only
    val f = g.fold(s"$root/gen1",
      Seq(Map("a" -> aRows(10 until 12), "b" -> bRows(10 until 12)),
        Map("a" -> aRows(12 until 14))), tomb)
    val gone = Set(0L, 3L, 11L, 13L)
    assert(sorted(f("a")) ==
      sorted(aRows(0 until 14).filter(!col("id").isin(gone.toSeq: _*))))
    assert(sorted(f("b")) ==
      sorted(bRows(0 until 12).filter(!col("id").isin(gone.toSeq: _*))))
    assert(f.files.values.forall(_.startsWith(s"$root/gen1/")))
    // the re-add rule: an id appended after the fold that tombstoned it
    // is back; the artifact the append left alone keeps the fold's rows
    val g2 = f.append(s"$root/gen2", Map("a" -> aRows(3 until 4)))
    assert(ids(g2("a")) == ids(f("a")) + 3L)
    assert(g2.files("b") == f.files("b") && !ids(g2("b")).contains(3L))
    assert(!new java.io.File(s"$root/gen2/b.parquet").exists)
  }
}

/** Child-JVM body for the exit test: builds one store with a file in it,
  * prints the root, and exits. */
object TablesSpecExitProbe {
  def main(args: Array[String]): Unit = {
    val root = Tables.store("exitprobe", args(0)) { r =>
      Files.writeString(java.nio.file.Paths.get(r, "artifact"), "x")
    }
    require(new java.io.File(root, "artifact").isFile)
    println(s"ROOT $root")
  }
}
