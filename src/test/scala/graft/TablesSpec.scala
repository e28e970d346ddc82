package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.io.Tables

/** Pins the artifact write/read pair of `graft.io.Tables`: the schema a
  * [[Tables.write]] records and [[Tables.read]] replays is exactly the one
  * footer inference would find, rewrites are never served a stale schema,
  * and reading a library-written artifact starts no Spark job. */
class TablesSpec extends SparkSpec {

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft_tables_$tag").toString

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
}
