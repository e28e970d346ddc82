package graft.core

import org.apache.spark.sql.DataFrame

/** The one eager-materialization helper of `graft.queries`: `cut` is
  * `localCheckpoint()` (the relation runs once, at construct time, and
  * every consumer reads its cached blocks) — unless
  * `GRAFT_NO_LINEAGE_CUT=1`, which makes it the identity.
  *
  * Every non-loop checkpoint in `queries/` is spelled `Lineage.cut`, so
  * the switch turns all of them off at once. It has two uses:
  *  - `tools.ExplainAudit`: an eager checkpoint truncates every
  *    downstream plan to `Scan ExistingRDD`, hiding the part PLANS.md
  *    must show — the `pmod(h32(doc_id), M) = 0` sample predicate on the
  *    scan before any pair forms;
  *  - the cut census: Bench with the switch at 0 and 1 times a query
  *    with and without all of its cuts. A cut stays only where it won
  *    that A/B, or where it pins a tie- or order-dependent subtree
  *    (`limit` without a total order, `first`, `row_number` over ties)
  *    that two consumers evaluating it separately could disagree on.
  *
  * Iterative loops keep a bare, unconditional `localCheckpoint`, and
  * only they do: the next round's count gate re-reads the block and
  * `Bridge.freeLocalCheckpoint` frees it, so the identity would
  * re-execute the whole lineage every round. The loop sites are
  * `Graph.kcoreLayers` (edges, alive set, per-round alive/removed/edges),
  * `Graph.qShortestPath` (the distance map per round), `Corpus.bpeTrain`
  * (state, best pair, applied state per round) and
  * `Dedup.components` (the canonical edge set per star-contraction
  * phase). */
object Lineage {
  private val disabled: Boolean =
    sys.env.get("GRAFT_NO_LINEAGE_CUT").contains("1")
  def cut(df: DataFrame): DataFrame =
    if (disabled) df else df.localCheckpoint()
}
