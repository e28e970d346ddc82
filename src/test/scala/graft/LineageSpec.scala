package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.Lineage

/** Pins [[Lineage.cut]] with the plan-audit switch `GRAFT_NO_LINEAGE_CUT`
  * unset: the cut materializes when it is called, keeps the input's rows,
  * and its consumers read the cut blocks instead of re-evaluating the
  * source. An accumulator inside the source counts every evaluation of a
  * source row. */
class LineageSpec extends SparkSpec {

  private val N = 500

  /** (id, k) rows whose `id` passes through a counting UDF. */
  private def source(): (DataFrame, LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator("lineage_source_evals")
    val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val df = spark.range(0, N, 1, 4)
      .select(tick(col("id")).as("id"), (col("id") % 7).as("k"))
    (df, evals)
  }

  private def control(): Unit =
    spark.sparkContext.parallelize(Seq(1), 1).count()

  test("cut runs its materialization job at call time") {
    val (src, evals) = source()
    val jobs = jobsDuring(body = Lineage.cut(src), control = control())
    assert(jobs >= 1, "no job ran while cut was called")
    assert(evals.sum == N, "the source was not evaluated exactly once")
  }

  test("cut returns the input's rows") {
    val expected = spark.range(0, N, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"))
      .collect().map(_.toString).sorted.toSeq
    val (src, _) = source()
    assert(Lineage.cut(src).collect().map(_.toString).sorted.toSeq == expected)
  }

  test("two consumers of a cut frame do not rescan its source") {
    // both read `id`, so column pruning cannot drop the counting UDF
    def twoConsumers(df: DataFrame): Unit = {
      df.groupBy("k").agg(sum(col("id"))).collect()
      df.join(df.select(col("id").as("id2"), col("k")), "k")
        .agg(sum(col("id") + col("id2"))).collect()
    }
    // positive control: without the cut, each consumer re-evaluates it
    val (plain, plainEvals) = source()
    twoConsumers(plain)
    assert(plainEvals.sum >= 2L * N)

    val (src, evals) = source()
    val c = Lineage.cut(src)
    assert(evals.sum == N)
    twoConsumers(c)
    assert(evals.sum == N, "a consumer of the cut re-evaluated the source")
  }
}
