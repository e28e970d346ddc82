package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.io.Tables

/** M8 — iterative graph analytics: PageRank over the supplier↔customer
  * co-transaction graph (edges from lineitem⨝orders, materialized in BOTH
  * directions so the bipartite graph has no dangling nodes and the classic
  * power iteration needs no dangling-mass redistribution term).
  *
  * The reference has nothing graph-shaped (SURVEY.md §2.2); this tier is
  * pure extension surface, the batch-iterative complement of the
  * connected-components star contraction in Dedup (`q_dedup_clusters`).
  *
  * Cross-engine exactness: per-target contribution sums are FLOAT SUMS —
  * order-dependent in IEEE — so each edge contribution quantizes to
  * round(rank/deg · 1e12) BIGINT first; the long sum is commutative and
  * partition-order-free (the q_stats / k-means centroid trick), and the
  * damping update is then a fixed sequence of exact double ops. Both
  * engines run the identical 3-iteration unrolled program.
  *
  * Scale stance (100 TB): edges shuffle ONCE per iteration on dst (narrow
  * (dst, long) rows — never adjacency lists); degree and rank tables are
  * node-cardinality and join on the node key; the rank⨝edges join is a
  * plain shuffled hash join AQE can skew-split on a hub node. Iterations
  * unroll declaratively — in production each iteration's rank table would
  * checkpoint/persist to cut lineage, like the star-contraction phases.
  */
object Graph {

  private val Damping = 0.85
  private val Iters = 3
  /** Contribution quantization denominator (exact commutative sums). */
  private val QP = 1e12

  /** Directed edge list, both orientations of each distinct
    * (supplier, customer) trading pair; node ids prefixed to keep the two
    * key spaces disjoint. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s:"), col("l_suppkey")).as("s_node"),
        concat(lit("c:"), col("o_custkey")).as("c_node"))
      .distinct()
    pairs.select(col("s_node").as("src"), col("c_node").as("dst"))
      .union(pairs.select(col("c_node").as("src"), col("s_node").as("dst")))
  }

  /** PageRank, 3 unrolled power iterations, damping 0.85, uniform init
    * 1/N over the nodes incident to ≥1 edge. Output: top 20 nodes by
    * N-normalized rank (average = 1), ties broken by node id. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    // materialize the edge list ONCE, hash-partitioned on the join key —
    // without this every unrolled iteration re-derives the whole
    // lineitem⨝orders⨝distinct pipeline (the dominant cost: 6.3 s → this
    // is the star-contraction checkpoint discipline, Dedup.scala).
    // At cluster scale this is the persisted/checkpointed edge table every
    // Pregel-style system keeps between supersteps.
    // sf0.1 median, cuts on/off: 8.99/13.93 s (both cuts)
    val e = edges(s, dir).repartition(col("src")).transform(Lineage.cut)
    // deg is referenced by every unrolled iteration (plus n and r0) —
    // without materialization each reference re-shuffles the whole edge
    // list for the same node-cardinality aggregate
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // sf0.1 median, cuts on/off: 8.99/13.93 s (both cuts)
      .transform(Lineage.cut)
    val n = deg.agg(count(lit(1)).as("n_nodes"))
    val r0 = deg.crossJoin(broadcast(n))
      .select(col("src").as("node"), col("deg"), col("n_nodes"),
        (lit(1.0) / col("n_nodes").cast("double")).as("rank"))

    def step(r: DataFrame): DataFrame =
      r.join(e, r("node") === e("src"))
        .select(col("dst"),
          round(col("rank") / col("deg").cast("double") * QP).cast("long").as("q"))
        .groupBy(col("dst")).agg(sum(col("q")).as("sq"))
        .join(deg, col("dst") === deg("src"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("node"), col("deg"), col("n_nodes"),
          ((lit(1.0) - Damping) / col("n_nodes").cast("double") +
            lit(Damping) * (col("sq").cast("double") / QP)).as("rank"))

    val r3 = (1 to Iters).foldLeft(r0)((r, _) => step(r))
    r3.select(col("node"),
        round(col("rank") * col("n_nodes").cast("double"), 6).as("nrank"))
      .orderBy(col("nrank").desc, col("node"))
      .limit(20)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): the
    * composition rung — [[qPagerank]]'s power iteration re-aimed at the
    * word ADJACENCY graph, the graph-based keyword scorer a corpus
    * pipeline runs where TF-IDF's bag-of-words scoring loses word
    * context. Nodes are normalized words (reference tokenizer
    * semantics via the one shared TextPipeline.bigrams pairing);
    * undirected edges weight adjacent co-occurrence (both orientations
    * summed, self-pairs of stuttered text dropped); the walk is
    * WEIGHTED PageRank — each node spreads rank proportionally to edge
    * weight w(v,u)/W(v) instead of 1/deg(v).
    *
    * Cross-engine exactness: the q_pagerank discipline verbatim —
    * per-edge contributions quantize to round(rank·w/W · 1e12) BIGINT
    * before the commutative long sum; the damping update is a fixed
    * sequence of exact double ops; both engines run the identical
    * 3-iteration unrolled program, and ranks round to 6 decimals with
    * word-asc tie-break in the top-20 cut.
    *
    * Scale stance (100 TB): the token stream collapses to (a, b, n)
    * pair counts in one word-count-shaped aggregate — the graph is
    * vocabulary², in practice vocabulary-sized times a small constant
    * (adjacency, not co-occurrence-window blowup), so edges/weights are
    * broadcastable at BPE-vocab scale; each iteration is one narrow
    * (dst, long) shuffle like q_pagerank, with the same checkpointed
    * edge-table discipline between supersteps. */
  def qTextrank(s: SparkSession, dir: String): DataFrame =
    textrankFrom(Tables.documents(s, dir))

  /** Core of [[qTextrank]] over any relation with a `text` column —
    * exposed so the spec can pin the weighted-walk semantics on an
    * engineered corpus (hub vs leaf, self-pair exclusion). */
  private[graft] def textrankFrom(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(explode(graft.core.TextPipeline.bigrams(
        graft.core.TextPipeline.normalizedTokens(col("text")))).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("a"),
        split(col("bg"), " ").getItem(1).as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val e = pairs.select(col("a").as("src"), col("b").as("dst"), col("n"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"), col("n")))
      .groupBy("src", "dst").agg(sum(col("n")).as("w"))
      // sf0.1 median, cuts on/off: 1.71/2.24 s (both cuts)
      .repartition(col("src")).transform(Lineage.cut)
    val wt = e.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
      // sf0.1 median, cuts on/off: 1.71/2.24 s (both cuts)
      .transform(Lineage.cut)
    val n = wt.agg(count(lit(1)).as("n_nodes"))
    val r0 = wt.crossJoin(broadcast(n))
      .select(col("src").as("node"), col("wtot"), col("n_nodes"),
        (lit(1.0) / col("n_nodes").cast("double")).as("rank"))

    def step(r: DataFrame): DataFrame =
      r.join(e, r("node") === e("src"))
        .select(col("dst"),
          round(col("rank") * col("w").cast("double")
            / col("wtot").cast("double") * QP).cast("long").as("q"))
        .groupBy(col("dst")).agg(sum(col("q")).as("sq"))
        .join(wt, col("dst") === wt("src"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("node"), col("wtot"), col("n_nodes"),
          ((lit(1.0) - Damping) / col("n_nodes").cast("double") +
            lit(Damping) * (col("sq").cast("double") / QP)).as("rank"))

    val r3 = (1 to Iters).foldLeft(r0)((r, _) => step(r))
    r3.select(col("node").as("word"),
        round(col("rank") * col("n_nodes").cast("double"), 6).as("nrank"))
      .orderBy(col("nrank").desc, col("word"))
      .limit(20)
  }

  /** Triangle participation counts over the "parts ordered together"
    * graph (distinct part pairs sharing an order), top 20 parts — the
    * clustering-coefficient / community primitive.
    *
    * Algorithm: the degree-ordered orientation count. Every undirected
    * edge is oriented from its lower-(degree, id) endpoint to the higher;
    * each triangle then has EXACTLY one vertex with out-edges to the
    * other two, so counting (wedge from u) ⋉ (closing edge) sees each
    * triangle once — no /6 correction, and per-node out-degree is
    * O(√m), which bounds the wedge explosion a hub would cause in the
    * naive spelling (the classic MPC triangle bound). The ORACLE is the
    * plain undirected 3-way self-join, so the oriented plan is re-proven
    * equal to brute force on every verify run.
    *
    * Scale stance: the edge list materializes once (narrow int pairs,
    * 3 consumers); wedges and closures are equi-joins on (u) and
    * (a, b) — never a cross product; the final count is a partial-agg
    * shuffle on node id. */
  def qTriangles(s: SparkSession, dir: String): DataFrame =
    // sf0.1 median, cuts on/off: 10.96/21.98 s (all q_triangles cuts)
    triangleCounts(Lineage.cut(coOrderEdges(s, dir)))
      .orderBy(col("n_triangles").desc, col("part").asc)
      .limit(20)

  /** The canonical (a < b, distinct) co-order part edge list shared by
    * [[qTriangles]] / [[qClusteringCoeff]] / [[qKcore]]: distinct part
    * pairs sharing an order. Spelled as ONE order-keyed aggregate —
    * `sort_array(collect_set(p))` per order, then every in-order pair
    * via an index-sliced array comprehension — instead of the former
    * li.distinct() ⨝ li self-join: the same pair multiset reaches the
    * final distinct, but the (o,p)-distinct exchange AND the sort-merge
    * self-join disappear (guide §2.4); partial aggregation collapses
    * the row-adjacent lineitem file order map-side. Per-order part sets
    * are order-line-count bounded (TPC-H ≤ 7 lineitems/order at every
    * sf), so the array comprehension is constant-size per group. */
  private def coOrderEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2),
          greatest(size(col("ps")) - i - 1, lit(0))),
          y => struct(x.as("a"), y.as("b")))))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()

  /** Closing-edge build side broadcasts only while the MEASURED edge
    * count stays under this (64M long-pair rows ≈ 1 GB — comfortable in
    * any 100 TB-posture executor, and an order of magnitude under
    * Spark's 8 GB broadcast hard cap). The threshold was originally 8M
    * rows (128 MB); the sf1 decade measurement moved it: the 12M-edge
    * sf1 co-order graph reads 216 s through the bare-join branch (AQE
    * shuffle-writes the d²-sized wedge stream before it can re-plan)
    * vs 111 s with the static broadcast — and 111 s is ~13× the sf0.1
    * time for 10× data (≈ linear), while 216 s is ~26× (the cliff is
    * the wedge materialization, not the join itself). Beyond THIS gate
    * the wedge shuffle is genuinely unavoidable — the build side no
    * longer fits memory and shuffling the wedge stream IS the
    * data-bound cost. */
  private val BroadcastEdgeRows = 64000000L


  /** Core of [[qTriangles]] over any canonical (a < b, distinct) edge
    * list: per-node triangle participation counts. Exposed for the
    * randomized brute-force property test in PropertiesSpec;
    * `broadcastRows` is injectable so GraphTextSpec can pin BOTH gate
    * branches (hinted broadcast under it, bare join above it). Callers
    * hand `e` in already cut: it feeds the degree, both orientation
    * joins and the closing probe, plus the count gate below. */
  private[graft] def triangleCounts(e: DataFrame,
      broadcastRows: Long = BroadcastEdgeRows,
      degIn: Option[DataFrame] = None): DataFrame = {
    // deg is consumed TWICE below (the da / db orientation joins), and
    // exchange reuse did NOT fire across the two aliased subtrees
    // (PLANS.md r13: q_triangles reused: 0) — each join re-ran the
    // explode + partial agg over the edge blocks. Node-cardinality, so
    // the checkpoint is tiny and both consumers read cached blocks (r14,
    // guide §2.4). degIn: a caller that already computed the identical
    // degree relation (qClusteringCoeff) hands it in instead of paying
    // a third computation.
    val deg = degIn.getOrElse(
      e.select(explode(array(col("a"), col("b"))).as("v"))
        // sf0.1 median, cuts on/off: q_triangles 10.96/21.98 s
        .groupBy("v").agg(count(lit(1)).as("d")).transform(Lineage.cut))
    val dirE = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      // consumed by BOTH wedge-join sides; without materialization each
      // side re-runs the degree joins (pruning blocks exchange reuse)
      // sf0.1 median, cuts on/off: q_triangles 10.96/21.98 s, q_clustering_coeff 12.27/23.19 s
      .transform(Lineage.cut)
    // wedge generation stays a flat self-join on u: both sides prune to
    // the same (u, v) subtree so the exchange is built once and reused,
    // and the d²-sized pair stream flows through whole-stage codegen. (A
    // collect_list + array-HOF "node iterator" spelling was measured 30%
    // SLOWER here — interpreted slice/transform allocation beats the
    // codegen join only on paper.)
    val wedges = dirE
      .join(dirE.select(col("u"), col("v").as("w")), "u")
      .filter(col("v") < col("w"))
    // the closing-edge check probes |wedges| ≫ |edges| rows against the
    // narrow int-pair edge list. The build side is data-dependent
    // (1.2M rows ≈ 19 MB at sf0.1 → 100M+ rows at 100×), so an
    // UNCONDITIONAL broadcast hint is a scale-killer: a hint is an
    // instruction Spark must obey even when the build side no longer
    // fits an executor. But dropping the hint entirely costs real money
    // at THIS scale: AQE's runtime SMJ→BHJ conversion still
    // shuffle-WRITES the d²-sized wedge stream before it re-plans
    // (measured: 8.2 s hinted vs 15–20 s converted under suite I/O
    // pressure at sf0.1) — only a static broadcast avoids materializing
    // wedges at all. So the hint is CONDITIONAL on a measured count:
    // the caller cut the edge list, making count() a metadata-cheap
    // cached-partition sweep, and the
    // threshold (64M rows ≈ 1 GB of long pairs) keeps the broadcast
    // far inside executor memory. Above it, the bare join stands and
    // AQE picks shuffled-hash or broadcast from runtime stats — the
    // per-run, per-data re-plan the 100 TB path needs.
    val eSide = if (e.count() <= broadcastRows) broadcast(e) else e
    // probe key is (v, w) DIRECTLY: the wedge filter guarantees v < w and
    // the edge list is canonical a < b, so least/greatest were provably
    // the identity here — two fewer conditional evals per wedge row on
    // the hottest loop in the suite (r15; identical join semantics)
    val closed = wedges
      .join(eSide, col("v") === col("a") && col("w") === col("b"),
        "left_semi")
    closed.select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node, cc(v) = 2·T(v) / (d(v)·(d(v)−1))
    * over the same co-order part graph as [[qTriangles]] — the per-node
    * community/cohesion feature (Watts & Strogatz 1998) that graph-based
    * spam and community detection read: how close a node's neighborhood is
    * to a clique. Nodes of degree < 2 are excluded (the coefficient is
    * undefined on fewer than one potential wedge); triangle-free nodes
    * report cc = 0 via the left join.
    *
    * Exactness: T and d are exact integers from the oriented triangle
    * count and the degree aggregate; cc = one IEEE division of integers —
    * identical in both engines, no rounding needed. The ORACLE recomputes
    * T from the brute-force undirected 3-way join, so the oriented plan
    * is again re-proven equal to brute force, now over ALL nodes rather
    * than the top-20 projection.
    *
    * Scale stance: [[triangleCounts]]'s wedge bound carries over
    * unchanged (that's the whole cost); degree is one partial-agg shuffle
    * of int pairs; the final join is node-cardinality ⋈ node-cardinality.
    */
  def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    // sf0.1 median, cuts on/off: 12.27/23.19 s (all q_clustering_coeff cuts)
    val edges = coOrderEdges(s, dir).transform(Lineage.cut)
    // checkpointed: consumed by the final cc join here AND (renamed) by
    // both orientation joins inside triangleCounts — one computation,
    // three cached-block readers (r14; PLANS.md r13 showed reused: 0,
    // i.e. every consumer re-ran the explode + aggregate)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("part"))
      // sf0.1 median, cuts on/off: 12.27/23.19 s (all q_clustering_coeff cuts)
      .groupBy("part").agg(count(lit(1)).as("degree")).transform(Lineage.cut)
    val tri = triangleCounts(edges,
      degIn = Some(deg.select(col("part").as("v"), col("degree").as("d"))))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("part"), "left")
      .select(col("part"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc", lit(2.0) * col("n_triangles") /
        (col("degree") * (col("degree") - 1)).cast("double"))
      .orderBy("part")
  }

  /** Unrolled peel rounds for [[qKcore]] — fixed so the Spark loop and
    * the oracle CTE chain compute the IDENTICAL program. Peeling is
    * monotone and idempotent at the fixpoint, so extra rounds are no-ops;
    * measured fixpoints: 3 rounds (sf0.001), 5 (sf0.01), 5 (sf0.1) —
    * 8 leaves headroom, and GraphTextSpec pins convergence (round 8 ==
    * round 7) so a fixture where 8 no longer suffices fails loudly. */
  private val KcoreRounds = 8
  /** Core threshold, chosen against the measured co-order degree
    * distribution (min 38–49, median ~89–119 across sf) so the peel is
    * non-trivial at every fixture: at sf0.001 the whole graph dissolves
    * (layers 1–3, empty core); at sf0.01/sf0.1 a large core survives. */
  private val KcoreK = 80

  /** k-core decomposition ("onion layers") of the co-order part graph:
    * repeatedly delete nodes of degree < k; a node's LAYER is the round
    * that deleted it (0 = survives in the k-core). The degeneracy-ordering
    * primitive behind community cores, graph-sampling retention, and
    * spam-ring detection (Seidman 1983; Batagelj–Zaveršnik peel).
    *
    * This is the third iterative-graph template in the tier: PageRank is
    * a numeric fixpoint, star contraction a pointer-jumping contraction,
    * and peeling a monotone SET fixpoint — delete-and-recount until
    * stable. Both engines run the identical [[KcoreRounds]]-round unroll
    * (rounds past the fixpoint are no-ops), so the oracle re-proves the
    * loop structurally rather than assuming convergence.
    *
    * Scale stance (100 TB): each round is one explode→partial-agg degree
    * shuffle over the CURRENT edge list plus two semi joins against the
    * node-cardinality alive set; edges only ever shrink, each round's
    * edge table is localCheckpoint-materialized (every unrolled round has
    * 3 consumers) and the superseded round's blocks are freed — the star
    * contraction's O(1)-executor-memory loop discipline. Nothing ever
    * concentrates on the driver or in one task: the alive set is a
    * distributed relation, never a collected set. */
  def qKcore(s: SparkSession, dir: String): DataFrame =
    kcoreLayers(coOrderEdges(s, dir), KcoreK, KcoreRounds)
      .orderBy(col("part"))

  /** Core of [[qKcore]] over any canonical (a < b, distinct) edge list.
    * Returns (part, layer): layer N ≥ 1 = removed in peel round N,
    * layer 0 = member of the k-core after `rounds` rounds. Exposed so
    * GraphTextSpec can pin exact layers on a hand-built clique+chain
    * graph and the core-degree invariant non-vacuously. */
  private[graft] def kcoreLayers(edgesIn: DataFrame, k: Int, rounds: Int)
      : DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    var e = edgesIn.localCheckpoint()
    // alive_0 = every node incident to >= 1 edge
    var alive = e.select(explode(array(col("a"), col("b"))).as("part"))
      .distinct().localCheckpoint()
    // the fixpoint gate needs |alive| each round anyway — keep it in a
    // var instead of re-running count() on the superseded frame (one
    // fewer job per round), and REUSE it as the measured broadcast gate
    // below (the triangles count-gate discipline)
    var aliveCount = alive.count()
    var removed = Vector.empty[DataFrame]
    var n = 1
    var converged = false
    while (n <= rounds && !converged) {
      val aliveNext = e
        .select(explode(array(col("a"), col("b"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("part")
        .localCheckpoint()
      // Fixpoint gate (the triangles count-gate discipline): peeling is
      // MONOTONE, so equal cardinality means the identical alive set and
      // every later round is a no-op in BOTH engines — skipping the
      // remaining work cannot change the result, only the cost. count()
      // on the just-checkpointed frame is a cached-partition sweep.
      val aliveNextCount = aliveNext.count()
      converged = aliveNextCount == aliveCount
      if (!converged) {
        // removed-this-round frames are node-cardinality and referenced by
        // the final union — checkpoint them so freeing `alive` is safe
        removed = removed :+ alive.join(aliveNext, Seq("part"), "left_anti")
          .select(col("part"), lit(n).as("layer")).localCheckpoint()
        Bridge.freeLocalCheckpoint(alive)
        alive = aliveNext
        aliveCount = aliveNextCount
        if (n < rounds) {
          // NOTE (r14): a measured-gate broadcast of the alive set was
          // A/B-tested here and REVERTED — per-round BroadcastExchange
          // jobs made the peel 7.4 → 11.9 s at sf0.1; the SMJ pair
          // shares one exchange of e across both semi-joins.
          val eNext = e
            .join(alive.select(col("part").as("a")), Seq("a"), "left_semi")
            .join(alive.select(col("part").as("b")), Seq("b"), "left_semi")
            .select("a", "b").localCheckpoint()
          Bridge.freeLocalCheckpoint(e)
          e = eNext
        }
      } else {
        Bridge.freeLocalCheckpoint(aliveNext)
      }
      n += 1
    }
    Bridge.freeLocalCheckpoint(e)
    (removed :+ alive.select(col("part"), lit(0).as("layer")))
      .reduce(_ unionAll _)
  }

  /** Unrolled relax rounds for [[qShortestPath]] — measured fixpoint is
    * 3 rounds at sf0.001/sf0.01/sf0.1 (hub-dominated bipartite graph);
    * 6 leaves headroom and GraphTextSpec pins round 6 == round 5. */
  private val SpRounds = 6

  /** Single-source weighted shortest path (Bellman-Ford relax rounds)
    * over the supplier↔customer graph, edge weight = the number of
    * distinct orders linking the pair, source = the minimum supplier id.
    * The fourth iterative-graph template: per-round RELAXATION — dist
    * improves monotonically through a min-combine — vs PageRank's full
    * recompute and the peel's set shrink. This is GraphFrames'
    * `shortestPaths` / Pregel SSSP in declarative form.
    *
    * Exactness: weights are exact BIGINT order counts, path sums stay
    * BIGINT, min is order-free — zero float ops anywhere.
    *
    * Scale stance (100 TB): each round shuffles only (node, dist) pairs —
    * narrow, node-cardinality — once on the edge key and once for the
    * min-combine (partial-aggregated map-side, so the frontier never
    * amplifies); the edge list materializes once and every round joins
    * against the same checkpointed relation; superseded per-round state
    * frees its blocks. Rounds unroll declaratively like the PageRank
    * power iterations. */
  def qShortestPath(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val pairs = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("s:"), col("l_suppkey")).as("s_node"),
        concat(lit("c:"), col("o_custkey")).as("c_node"))
      .agg(countDistinct(col("l_orderkey")).as("w"))
    val e = pairs.select(col("s_node").as("src"), col("c_node").as("dst"), col("w"))
      .union(pairs.select(col("c_node"), col("s_node"), col("w")))
      // sf0.1 median, cuts on/off: 7.94/17.12 s
      .repartition(col("src")).transform(Lineage.cut)
    // source = 's:' || min(l_suppkey): computed, not hardcoded, so the
    // query survives fixture regeneration; a 1-row aggregate, not collect
    val r0 = Tables.lineitem(s, dir).agg(min(col("l_suppkey")).as("m"))
      .select(concat(lit("s:"), col("m")).as("node"), lit(0L).as("dist"))
    // Fixpoint gate: relaxation is POINTWISE monotone (dist never grows,
    // nodes never vanish), so an unchanged (count, Σdist) pair implies the
    // identical distance map and every later round is a no-op in both
    // engines — skip the remaining work, not the semantics (the kcore /
    // triangles data-dependent-gate discipline).
    // ONE-ROW scalar aggregate on a just-checkpointed node-cardinality
    // frame — the same driver-side-gate class as the triangles e.count()
    // (a control decision, not data movement; never rows to the driver).
    def stamp(r: DataFrame): (Long, Long) = {
      val x = r.agg(count(lit(1)), sum(col("dist"))).collect()(0)
      (x.getLong(0), x.getLong(1))
    }
    var r = r0.localCheckpoint()
    var prev = stamp(r)
    var n = 0
    var converged = false
    while (n < SpRounds && !converged) {
      // NOTE (r14): a measured-gate broadcast of the distance map was
      // A/B-tested here and REVERTED — per-round BroadcastExchange jobs
      // made the walk 5.7 → 7.7 s at sf0.1; the SMJ relax reuses the
      // checkpointed edge exchange round over round.
      val next = r.select(col("node"), col("dist"))
        .unionAll(r.join(e, r("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      val cur = stamp(next)
      converged = cur == prev
      prev = cur
      Bridge.freeLocalCheckpoint(r)
      r = next
      n += 1
    }
    r.orderBy("node")
  }

  /** Top hubs and authorities per HITS (Kleinberg) on the natural
    * BIPARTITE trading graph — customers are pure hubs, suppliers pure
    * authorities — so the mutual-reinforcement recursion ("a good hub
    * points at good authorities; a good authority is pointed at by good
    * hubs") is exactly the alternating matrix products a₁ = Aᵀh₀,
    * h₁ = Aa₁, a₂ = Aᵀh₁, h₂ = Aa₂ from all-ones h₀. The complement of
    * [[qPagerank]]: PageRank scores GLOBAL random-walk centrality with
    * damping; HITS separates the two bipartite roles, and on this graph
    * the recursion is INTEGER-EXACT — unnormalized scores are sums of
    * products of degrees, bounded by max_deg⁴ (degrees in TPC-H are
    * sf-independent ratios, so BIGINT holds at any sf), so no float
    * normalization enters until the final display ppm (score·1e6 DIV
    * max — integer both engines).
    *
    * Output: top [[HitsTopK]] per side by score (ties to the lower id),
    * with rank and share-of-max ppm.
    *
    * Scale stance (100 TB): the distinct edge list shuffles once; each
    * half-step is edges⨝scores on the step's key then a partial agg —
    * narrow (node, long) rows, never adjacency lists, identical cost
    * shape to one PageRank iteration; the two 1-row maxes broadcast into
    * the final projection; TakeOrderedAndProject caps the output. */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
      .distinct()
      // sf0.1 median, cuts on/off: 4.44/5.57 s
      .transform(Lineage.cut) // 5 consumers: 4 half-steps + the hub base set
    val a1 = e.groupBy("p").agg(count(lit(1)).as("a1")) // Aᵀ·1 = in-degree
    val h1 = e.join(a1, "p").groupBy("c").agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, "c").groupBy("p").agg(sum(col("h1")).as("a2"))
    val h2 = e.join(a2, "p").groupBy("c").agg(sum(col("a2")).as("h2"))
    def side(df: DataFrame, id: String, score: String, tag: String) = {
      val mx = df.agg(max(col(score)).as("mx"))
      // TakeOrderedAndProject caps the corpus-cardinality score table to
      // HitsTopK rows BEFORE the rank window runs (over ≤ K rows) — no
      // global single-partition window over all nodes.
      df.orderBy(col(score).desc, col(id).asc).limit(HitsTopK)
        .crossJoin(broadcast(mx))
        .select(lit(tag).as("side"), col(id).cast("long").as("node"),
          col(score).as("score"),
          expr(s"$score * 1000000 div mx").as("share_ppm"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col(score).desc, col(id).asc)).as("rank"))
    }
    side(a2, "p", "a2", "authority")
      .unionAll(side(h2, "c", "h2", "hub"))
      .orderBy("side", "rank")
  }

  private val HitsTopK = 10

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hits" -> (qHits _),
    "q_pagerank" -> (qPagerank _),
    "q_textrank" -> (qTextrank _),
    "q_triangles" -> (qTriangles _),
    "q_clustering_coeff" -> (qClusteringCoeff _),
    "q_kcore" -> (qKcore _),
    "q_shortest_path" -> (qShortestPath _),
  )

  // ---- oracle SQL ----------------------------------------------------------

  /** One power-iteration CTE body over ranks `r` — the SQL twin of `step`. */
  /** One weighted power-iteration CTE — [[duckStep]] with w/W(v) fan-out
    * instead of 1/deg, the SQL twin of one [[qTextrank]] step. */
  private def duckWStep(r: String): String =
    s"""SELECT d.src AS node, d.wtot, n.n_nodes,
       |    (1.0 - $Damping) / CAST(n.n_nodes AS DOUBLE)
       |      + $Damping * (CAST(c.sq AS DOUBLE) / $QP) AS rank
       |  FROM (
       |    SELECT e.dst, sum(CAST(round(r.rank * CAST(e.w AS DOUBLE)
       |      / CAST(r.wtot AS DOUBLE) * $QP) AS BIGINT)) AS sq
       |    FROM $r r JOIN edges e ON r.node = e.src GROUP BY e.dst) c
       |  JOIN wt d ON c.dst = d.src, n""".stripMargin

  private def duckStep(r: String): String =
    s"""SELECT d.src AS node, d.deg, c.sq, n.n_nodes,
       |    (1.0 - $Damping) / CAST(n.n_nodes AS DOUBLE)
       |      + $Damping * (CAST(c.sq AS DOUBLE) / $QP) AS rank
       |  FROM (
       |    SELECT e.dst, sum(CAST(round(r.rank / CAST(r.deg AS DOUBLE) * $QP) AS BIGINT)) AS sq
       |    FROM $r r JOIN edges e ON r.node = e.src GROUP BY e.dst) c
       |  JOIN deg d ON c.dst = d.src, n""".stripMargin

  /** One peel round's CTE triple (degree-filter alive set, removed layer,
    * filtered edges) — the SQL twin of one [[kcoreLayers]] iteration. */
  private def duckPeel(n: Int): String = {
    val (eP, aP) = (s"e${n - 1}", s"a${n - 1}")
    val edgeCte = if (n < KcoreRounds)
      s""",
         |e$n AS MATERIALIZED (SELECT a, b FROM $eP
         |  WHERE a IN (SELECT part FROM a$n) AND b IN (SELECT part FROM a$n))""".stripMargin
    else ""
    s"""a$n AS MATERIALIZED (SELECT part FROM (
       |    SELECT part, count(*) AS c FROM (
       |      SELECT a AS part FROM $eP UNION ALL SELECT b FROM $eP) u
       |    GROUP BY part) d WHERE c >= $KcoreK),
       |r$n AS MATERIALIZED (SELECT part, $n AS layer FROM $aP
       |  WHERE part NOT IN (SELECT part FROM a$n))$edgeCte""".stripMargin
  }

  /** One Bellman-Ford relax round — the SQL twin of one
    * [[qShortestPath]] fold step. */
  private def duckRelax(n: Int): String =
    s"""r$n AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
       |    SELECT node, dist FROM r${n - 1}
       |    UNION ALL
       |    SELECT e.dst, r.dist + e.w FROM r${n - 1} r JOIN e ON r.node = e.src) u
       |  GROUP BY node)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Same unrolled a₁/h₁/a₂/h₂ alternation over the distinct bipartite
    // edge list; all-integer, ppm by integer division.
    "q_hits" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS a1 FROM e GROUP BY p),
         |h1 AS (SELECT c, CAST(sum(a1) AS BIGINT) AS h1
         |       FROM e JOIN a1 USING (p) GROUP BY c),
         |a2 AS (SELECT p, CAST(sum(h1) AS BIGINT) AS a2
         |       FROM e JOIN h1 USING (c) GROUP BY p),
         |h2 AS (SELECT c, CAST(sum(a2) AS BIGINT) AS h2
         |       FROM e JOIN a2 USING (p) GROUP BY c),
         |auth AS (SELECT 'authority' AS side, CAST(p AS BIGINT) AS node,
         |    a2 AS score, row_number() OVER (ORDER BY a2 DESC, p ASC) AS rank
         |  FROM a2),
         |hub AS (SELECT 'hub' AS side, CAST(c AS BIGINT) AS node,
         |    h2 AS score, row_number() OVER (ORDER BY h2 DESC, c ASC) AS rank
         |  FROM h2),
         |am AS (SELECT max(score) AS mx FROM auth),
         |hm AS (SELECT max(score) AS mx FROM hub)
         |SELECT side, node, score, score * 1000000 // mx AS share_ppm,
         |  CAST(rank AS INT) AS rank
         |FROM (SELECT auth.*, mx FROM auth, am WHERE rank <= $HitsTopK
         |      UNION ALL
         |      SELECT hub.*, mx FROM hub, hm WHERE rank <= $HitsTopK) t
         |ORDER BY side, rank""".stripMargin,
    "q_kcore" ->
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem),
         |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
         |       FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
         |a0 AS MATERIALIZED (SELECT DISTINCT part FROM (
         |         SELECT a AS part FROM e0 UNION ALL SELECT b FROM e0) u),
         |${(1 to KcoreRounds).map(duckPeel).mkString(",\n")}
         |SELECT part, layer FROM (
         |  ${(1 to KcoreRounds).map(n => s"SELECT part, layer FROM r$n")
             .mkString(" UNION ALL ")}
         |  UNION ALL SELECT part, 0 AS layer FROM a$KcoreRounds) out
         |ORDER BY part""".stripMargin,
    "q_shortest_path" ->
      s"""WITH p AS (
         |  SELECT 's:' || l_suppkey AS s_node, 'c:' || o_custkey AS c_node,
         |         count(DISTINCT l_orderkey) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |e AS (SELECT s_node AS src, c_node AS dst, w FROM p
         |      UNION ALL SELECT c_node, s_node, w FROM p),
         |r0 AS (SELECT 's:' || min(l_suppkey) AS node,
         |              CAST(0 AS BIGINT) AS dist FROM lineitem),
         |${(1 to SpRounds).map(duckRelax).mkString(",\n")}
         |SELECT node, dist FROM r$SpRounds ORDER BY node""".stripMargin,
    "q_pagerank" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT 's:' || l_suppkey AS s_node, 'c:' || o_custkey AS c_node
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT s_node AS src, c_node AS dst FROM pairs
         |  UNION ALL SELECT c_node, s_node FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |n AS (SELECT count(*) AS n_nodes FROM deg),
         |r0 AS (SELECT src AS node, deg, n.n_nodes,
         |         1.0 / CAST(n.n_nodes AS DOUBLE) AS rank FROM deg, n),
         |r1 AS (${duckStep("r0")}),
         |r2 AS (${duckStep("r1")}),
         |r3 AS (${duckStep("r2")})
         |SELECT node, round(rank * CAST(n_nodes AS DOUBLE), 6) AS nrank
         |FROM r3 ORDER BY nrank DESC, node LIMIT 20""".stripMargin,
    // Same adjacency pairing (the shared bigram spelling), same
    // both-orientation weight sums, same quantized weighted power
    // iteration unrolled 3 times.
    "q_textrank" -> {
      val toks = graft.core.TextPipeline.duckToks
      s"""WITH d AS (SELECT $toks AS w FROM documents),
         |bg AS (SELECT unnest(${graft.core.TextPipeline.duckBigrams("w")})
         |         AS bgm FROM d),
         |p AS (SELECT split_part(bgm, ' ', 1) AS a,
         |             split_part(bgm, ' ', 2) AS b FROM bg),
         |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
         |       FROM p WHERE a <> b GROUP BY a, b),
         |edges AS (SELECT src, dst, CAST(sum(n) AS BIGINT) AS w FROM (
         |    SELECT a AS src, b AS dst, n FROM pc
         |    UNION ALL SELECT b, a, n FROM pc) u GROUP BY src, dst),
         |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot
         |       FROM edges GROUP BY src),
         |n AS (SELECT count(*) AS n_nodes FROM wt),
         |r0 AS (SELECT src AS node, wtot, n.n_nodes,
         |         1.0 / CAST(n.n_nodes AS DOUBLE) AS rank FROM wt, n),
         |r1 AS (${duckWStep("r0")}),
         |r2 AS (${duckWStep("r1")}),
         |r3 AS (${duckWStep("r2")})
         |SELECT node AS word, round(rank * CAST(n_nodes AS DOUBLE), 6) AS nrank
         |FROM r3 ORDER BY nrank DESC, word LIMIT 20""".stripMargin
    },
    // Plain undirected 3-way self-join: brute-force triangle listing —
    // re-proves the degree-oriented plan's correctness each verify run.
    "q_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |t AS (SELECT e1.a, e1.b, e2.b AS c
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT unnest([a, b, c]) AS part FROM t)
        |SELECT part, count(*) AS n_triangles FROM n GROUP BY part
        |ORDER BY n_triangles DESC, part LIMIT 20""".stripMargin,
    "q_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |deg AS (SELECT part, count(*) AS degree FROM (
        |          SELECT a AS part FROM e UNION ALL SELECT b FROM e) u
        |        GROUP BY part),
        |t AS (SELECT e1.a, e1.b, e2.b AS c
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tri AS (SELECT part, count(*) AS n_triangles FROM (
        |          SELECT unnest([a, b, c]) AS part FROM t) n GROUP BY part)
        |SELECT d.part, d.degree,
        |  coalesce(tri.n_triangles, 0) AS n_triangles,
        |  2.0 * coalesce(tri.n_triangles, 0)
        |    / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS cc
        |FROM deg d LEFT JOIN tri ON d.part = tri.part
        |WHERE d.degree >= 2 ORDER BY d.part""".stripMargin,
  )
}
