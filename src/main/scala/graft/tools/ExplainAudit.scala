package graft.tools

import graft.SparkEntry

/** Physical-plan audit over every SparkEntry query — the evidence trail
  * for the 100 TB design review (run: `GRAFT_NO_LINEAGE_CUT=1
  * tools/run.sh graft.tools.ExplainAudit [sfDir] > PLANS.md`).
  *
  * For each query it prints the scan-level pushdown facts (PushedFilters,
  * ReadSchema — is the parquet reader doing the projection/selection?),
  * the join strategies chosen, and the exchange (shuffle) count — the
  * three things that decide whether a plan survives a 100× scale-up.
  * `GRAFT_NO_LINEAGE_CUT=1` makes every non-loop lineage cut
  * (graft.core.Lineage) the identity so the FULL plans are visible — in
  * particular the in-plan h32 sample predicates, which it prints as
  * `- sample-filter:` lines. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional extra args: audit only these query names (fast iteration)
    val only = args.drop(1).toSet
    val spark = graft.GraftSession.local(8, "graft-explain-audit")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // final plan visible at explain time

    println("# PLANS - physical-plan audit (generated by graft.tools.ExplainAudit)")
    println()
    println(s"Source fixtures: `$sfDir`. For every query: parquet pushdown")
    println("evidence, join strategies, and shuffle count. Regenerate with")
    println("`GRAFT_NO_LINEAGE_CUT=1 tools/run.sh graft.tools.ExplainAudit > PLANS.md`")
    println("after plan changes.")
    println()

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val scans = plan.linesIterator.filter(l =>
          l.contains("PushedFilters") || l.contains("ReadSchema")).map(_.trim)
          .map(l => if (l.length > 150) l.take(147) + "..." else l).toSeq.distinct
        val joins = plan.linesIterator.map(_.trim).filter(l =>
          l.contains("Join") && !l.contains("codegen")).map(_.takeWhile(_ != '[').trim)
          .toSeq.distinct
        val lines = plan.linesIterator.map(_.trim).toSeq
        val shuffles = lines.count(l =>
          l.contains("Exchange") && !l.contains("Broadcast") && !l.contains("Reused"))
        val bcasts = lines.count(l =>
          l.contains("BroadcastExchange") && !l.contains("Reused"))
        val reused = lines.count(_.contains("ReusedExchange"))
        val gens = lines.filter(_.contains("Generate "))
          .map(l => l.drop(l.indexOf("Generate ") + 9).takeWhile(_ != '(')).distinct
        // Window nodes, with their partition spec visible: a window whose
        // partition key is per-query/corpus-scale is the single-partition-
        // sort scale hazard the round-8 verdict flagged — surfacing them
        // here makes "the window is gone" (or "ranks a bounded set only")
        // auditable from PLANS.md alone.
        val wins = lines.filter(l =>
          l.startsWith("Window") || l.contains("+- Window"))
          .map(l => if (l.length > 150) l.take(147) + "..." else l).distinct
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
        // eval-tier sampling evidence: surface Filter nodes carrying the
        // deterministic sample predicate `pmod(h32(...), M)` (the native
        // md5-prefix hash) so "the sampled-slice contract is in the plan"
        // is auditable from PLANS.md alone
        val sampFilters = lines.filter(l =>
          l.contains("Filter") && l.contains("pmod(h32("))
          .map(l => if (l.length > 150) l.take(147) + "..." else l).distinct
        println(s"## $name")
        println(s"- shuffles (Exchange): $shuffles, broadcast: $bcasts, " +
          s"reused: $reused, whole-stage-codegen stages: $wsc")
        if (sampFilters.nonEmpty)
          println(sampFilters.map("- sample-filter: " + _).mkString("\n"))
        if (gens.nonEmpty) println(gens.map("- generate: " + _).mkString("\n"))
        if (wins.nonEmpty) println(wins.map("- window: " + _).mkString("\n"))
        if (joins.nonEmpty) println(joins.map("- join: " + _).mkString("\n"))
        if (scans.nonEmpty) println(scans.map("- scan: " + _).mkString("\n"))
        println()
      } catch {
        case e: Throwable => println(s"## $name\n- ERROR: ${e.getMessage.take(120)}\n")
      }
    }
    spark.stop()
  }
}
