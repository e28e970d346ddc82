package graft

/** Library totality: EVERY SparkEntry query must execute (not necessarily
  * return rows) against an empty corpus — the first thing a user hits when
  * pointing the engine at a fresh/filtered dataset is an operator that
  * divides by a corpus statistic, broadcasts an empty aggregate, or
  * windows over zero rows. A crash here is a library bug regardless of
  * how correct the operator is on data.
  *
  * The mirror preserves every fixture schema exactly (limit(0) round-trip,
  * including the raw int64-nanos events column), so this exercises the
  * same plans Verify runs — just with zero input rows.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val out = tempDir("graft_empty_fixture")
    graft.io.Tables.names.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    out
  }

  test("every query executes on an empty corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name -> ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries crash on empty input:\n${failures.mkString("\n")}")
  }
}
