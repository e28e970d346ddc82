package graft.tools

import graft.SparkEntry

/** Prints the AQE FINAL plan for the named queries — the plan that actually
  * executed, after adaptive re-planning (join-strategy switches, skew
  * splits, partition coalescing). Complements ExplainAudit, which disables
  * AQE to show the static plan: for data-dependent choices (e.g. the
  * q_triangles closing-edge build side) the adaptive final plan IS the
  * 100 TB evidence, because it is re-derived from runtime stats per run.
  *
  * Run: `tools/run.sh graft.tools.AqePlan [sfDir] <query...>`
  */
object AqePlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = graft.GraftSession.local(8, "graft-aqe-plan")

    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // execute THIS dataset so its AdaptiveSparkPlan finalizes
                   // (count() would plan and execute a different tree)
      println(s"## $name (AQE final)")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
