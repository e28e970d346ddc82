package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Lineage
import graft.io.Tables

/** SQL-surface extensions past the Relational/Extras tiers: window
  * distribution functions, FILTER-style conditional aggregation, linear
  * regression / correlation from exact mergeable moments, UNPIVOT, and a
  * recursive CTE (Spark 4's `WITH RECURSIVE`, UNION ALL form).
  *
  * The reference (`/root/reference/maprdeuce.cpp`) has none of these —
  * its only aggregate is the word-count reduce (maprdeuce.cpp:318-344) —
  * so this whole tier is extension surface, held to the same oracle bar
  * as the core: every query here is hash-exact vs DuckDB.
  */
object SqlSurface {

  /** Window distribution trio — ntile / percent_rank / cume_dist — per
    * order-priority partition, over a TOTAL order (totalprice, then
    * orderkey) so rank functions see no ties and every engine computes
    * identical values. One sort per partition serves all three frames
    * (single Window node); at 100 TB the partition key spreads the sort,
    * and rank values are pure rational functions of (rank, n) — no
    * accumulation, no float-order sensitivity. */
  def qWindowDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Simple linear regression y = a·x + b (x = quantity, y = extended
    * price) per return flag, from EXACT decimal moments: sum x, sum y,
    * sum x², sum xy, sum y² accumulate as DECIMAL (order-free, partial-agg
    * mergeable — the one-pass 100 TB shape), and only the final slope /
    * intercept / r² / correlation arithmetic happens in double, with an
    * identical expression tree on the oracle side so the doubles match
    * bit-for-bit. Built-in regr_slope & co. use float accumulation whose
    * partial-merge order varies run to run; SqlSurfaceSpec pins this
    * formulation against the built-ins at 1e-9. */
  def qRegression(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(12, 2))
    val y = col("l_extendedprice").cast(DecimalType(12, 2))
    val agg = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
      .select(col("flag"), col("n"),
        col("sx").cast("double").as("dsx"), col("sy").cast("double").as("dsy"),
        col("sxx").cast("double").as("dsxx"),
        col("sxy").cast("double").as("dsxy"),
        col("syy").cast("double").as("dsyy"),
        col("n").cast("double").as("dn"))
    val numXY = col("dn") * col("dsxy") - col("dsx") * col("dsy")
    val denX = col("dn") * col("dsxx") - col("dsx") * col("dsx")
    val denY = col("dn") * col("dsyy") - col("dsy") * col("dsy")
    val slope = numXY / denX
    agg.select(col("flag"), col("n"),
        round(slope, 6).as("slope"),
        round((col("dsy") - slope * col("dsx")) / col("dn"), 6).as("intercept"),
        round((numXY / sqrt(denX)) * (numXY / sqrt(denY)) / sqrt(denX) / sqrt(denY), 6).as("r2"),
        round(numXY / sqrt(denX) / sqrt(denY), 6).as("corr_xy"),
        round((col("dsxy") - col("dsx") * col("dsy") / col("dn"))
          / (col("dn") - lit(1.0)), 6).as("covar_samp"))
      .orderBy("flag")
  }

  /** FILTER-clause conditional aggregation: one scan of orders computes
    * unconditional and five differently-predicated aggregates per status
    * (counts, a conditional sum/avg pair, bool_and / bool_or) — the
    * one-pass alternative to five self-joins. The conditional average is
    * decimal-sum / count in double (exact, order-free) rather than a
    * float avg. Oracle spells the same aggregates with ANSI
    * `FILTER (WHERE …)`. */
  def qAggFiltered(s: SparkSession, dir: String): DataFrame = {
    val tp = col("o_totalprice")
    val tpDec = tp.cast(DecimalType(18, 2))
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("o_orderpriority") === "1-URGENT", lit(1))).as("n_urgent"),
        coalesce(sum(when(tp > 150000, tpDec)), lit(0).cast(DecimalType(18, 2)))
          .cast("double").as("sum_hi"),
        count(when(tp < 50000, lit(1))).as("n_low"),
        sum(when(tp < 50000, tpDec)).cast("double").as("sum_low"),
        expr("bool_and(o_totalprice > 0)").as("all_pos"),
        expr("bool_or(o_totalprice > 400000)").as("any_jumbo"))
      .select(col("status"), col("n_orders"), col("n_urgent"),
        round(col("sum_hi"), 2).as("sum_hi"),
        when(col("n_low") > 0, round(col("sum_low") / col("n_low"), 6))
          .as("avg_low"),
        col("all_pos"), col("any_jumbo"))
      .orderBy("status")
  }

  /** UNPIVOT (melt): part's numeric metrics to long form — one row per
    * (part, metric). Spark's native `unpivot` lowers to Expand (a
    * narrow, shuffle-free operator that emits both rows per input row in
    * one pass); the oracle is the portable UNION ALL spelling. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice").cast("double").as("retailprice"),
        col("p_size").cast("double").as("size"))
      .unpivot(Array(col("p_partkey"), col("p_brand")),
        Array(col("retailprice"), col("size")), "metric", "value")
      .orderBy("p_partkey", "metric")

  /** Shared SQL for [[qRecursiveChain]]: the recursive part is ONE text
    * that runs on both Spark and DuckDB, so the recursion semantics can't
    * drift between engine and oracle. Only the `ord` base differs — Spark
    * reads a MATERIALIZED ranked relation (see [[qRecursiveChain]]),
    * DuckDB recomputes the window inline (its CTEs materialize once by
    * default, so inline is already single-evaluation there). */
  private def chainSql(ordBody: String): String =
    s"""WITH RECURSIVE ord AS (
       |  $ordBody
       |),
       |chain(o_orderkey, o_custkey, depth, cum_spend) AS (
       |  SELECT o_orderkey, o_custkey, CAST(1 AS BIGINT), o_totalprice
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT /*+ BROADCAST(c) */ o.o_orderkey, o.o_custkey, c.depth + 1,
       |    c.cum_spend + o.o_totalprice
       |  FROM chain c JOIN ord o
       |    ON o.o_custkey = c.o_custkey AND o.rn = c.depth + 1
       |)
       |SELECT o_orderkey, o_custkey, depth,
       |  round(cum_spend, 2) AS cum_spend
       |FROM chain ORDER BY o_orderkey""".stripMargin

  /** Recursive CTE (`WITH RECURSIVE`, UNION ALL): walk each customer's
    * order history as a linked list — seed = first order, step = join to
    * the (rn = depth+1) successor — accumulating a running spend along the
    * chain. Each level is one join on (custkey, rn); depth is bounded by
    * the max orders-per-customer (24 at sf0.1), far under the recursion
    * guard set here. The running sum is sequential along the chain, so it
    * is bit-deterministic under any partitioning; SqlSurfaceSpec pins
    * depth == row_number and cum_spend == the window running sum. For
    * UNBOUNDED iteration (PageRank, k-means, star contraction) the
    * unrolled-loop templates in Graph/Similarity remain the scale path;
    * recursion is the right surface for bounded-depth hierarchy walks.
    *
    * Two deliberate physical choices, measured at sf0.1 (~24 levels):
    * the ranked base relation is materialized ONCE (Lineage.cut)
    * before the recursion — Spark re-evaluates a CTE's plan at every
    * recursion level, so an inline `ord` redoes the scan + window sort
    * ×maxDepth (11.8 s inline) — and the step join broadcasts the
    * SHRINKING per-level delta, not the static relation (re-broadcasting
    * `ord` every level was measured slower than the shuffle it saved;
    * broadcasting the delta removes all per-level shuffles: 3.8 s total,
    * ~0.15 s/level of which is local-mode job scheduling that amortizes
    * on a cluster). The hint is a comment to DuckDB, so the recursive
    * text stays engine-shared. This is also the 100 TB shape: fixpoint
    * iteration ships each delta to a materialized static relation, never
    * the reverse. */
  def qRecursiveChain(s: SparkSession, dir: String): DataFrame = {
    // No session-state leaks: the recursion-limit conf is saved/restored
    // and the staging temp view dropped once the returned Dataset holds
    // the ANALYZED plan (view lookup and limit capture both happen inside
    // s.sql(); SqlSurfaceSpec pins both — the query survives view drop +
    // conf restore, and the limit genuinely binds at analysis time).
    // Depth here is bounded by max orders-per-customer (~24 at sf0.1);
    // 500 is a generous finite guard against a data bug, far under the
    // point where the per-level plan-reevaluation cost would bite anyway.
    // NOTE the companion ROW limit (spark.sql.cteRecursionRowLimit) is
    // NOT handled here: it is enforced at execution time (UnionLoopExec),
    // so a save/restore around analysis cannot carry it — GraftSession
    // raises it session-wide instead (its 1M default is data-size-
    // dependent: one row per order crosses it at sf1's 1.5M orders).
    val limitKey = "spark.sql.cteRecursionLevelLimit"
    val prior = s.conf.getOption(limitKey)
    s.conf.set(limitKey, "500")
    try {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        // sf0.1 median, cuts on/off: 6.49/13.59 s
        .transform(Lineage.cut)
        .createOrReplaceTempView("graft_rc_ord")
      s.sql(chainSql(
        "SELECT o_orderkey, o_custkey, o_totalprice, rn FROM graft_rc_ord"))
    } finally {
      s.catalog.dropTempView("graft_rc_ord")
      prior match {
        case Some(v) => s.conf.set(limitKey, v)
        case None => s.conf.unset(limitKey)
      }
    }
  }

  /** Shared SQL for [[qLateralTopn]]: ONE text runs on both Spark and
    * DuckDB (only the table names differ), so the correlation semantics
    * can't drift between engine and oracle. */
  private def lateralSql(customerRel: String, ordersRel: String): String =
    s"""SELECT seg.segment, t.o_orderkey, round(t.o_totalprice, 2) AS totalprice
       |FROM (SELECT DISTINCT c_mktsegment AS segment FROM $customerRel) seg,
       |LATERAL (
       |  SELECT o.o_orderkey, o.o_totalprice
       |  FROM $ordersRel o JOIN $customerRel c2 ON o.o_custkey = c2.c_custkey
       |  WHERE c2.c_mktsegment = seg.segment
       |  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 3
       |) t
       |ORDER BY seg.segment, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT: top-3 orders per
    * market segment, spelled as a per-group-row dependent subquery.
    * Catalyst DECORRELATES it (DecorrelateInnerQuery): the per-segment
    * rank+limit becomes one window (rank over segment) + filter on the
    * joined relation — a set-based plan, NOT a per-outer-row re-execution,
    * which is the only shape that survives 100 TB (5 segments × a full
    * orders scan each would be fine here, but 10⁶ outer rows would not).
    * SqlSurfaceSpec pins equality against the explicit window-rank
    * formulation and that the optimized plan contains no lateral join. */
  def qLateralTopn(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_lat_customer")
    Tables.orders(s, dir).createOrReplaceTempView("graft_lat_orders")
    s.sql(lateralSql("graft_lat_customer", "graft_lat_orders"))
  }

  /** Multiple COUNT(DISTINCT …) over different columns in one aggregate.
    * Catalyst lowers this to ONE Expand (each input row replicated once
    * per distinct column, tagged by grouping id) feeding a two-level
    * aggregate — one scan and one shuffle instead of N self-joined
    * single-distinct aggregates. That 3× row inflation is the honest
    * 100 TB cost of EXACT multi-distinct; when a few percent error is
    * acceptable the sketch path (`q_approx_distinct`, HLL partials,
    * no Expand) is the cheaper shape. */
  def qMultiDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus").as("status"))
      .agg(countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        countDistinct(col("l_returnflag")).as("nd_flag"),
        count(lit(1)).as("n_rows"))
      .orderBy("status")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_dist" -> (qWindowDist _),
    "q_regression" -> (qRegression _),
    "q_agg_filtered" -> (qAggFiltered _),
    "q_unpivot" -> (qUnpivot _),
    "q_recursive_chain" -> (qRecursiveChain _),
    "q_lateral_topn" -> (qLateralTopn _),
    "q_multi_distinct" -> (qMultiDistinct _),
  )

  val oracle: Map[String, String] = Map(
    "q_window_dist" ->
      """SELECT o_orderkey, o_orderpriority AS priority,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin,
    "q_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag AS flag, count(*) AS n,
        |    CAST(count(*) AS DOUBLE) AS dn,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS dsx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS dsy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS dsxx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS dsxy,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS dsyy
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, n,
        |  round((dn*dsxy - dsx*dsy) / (dn*dsxx - dsx*dsx), 6) AS slope,
        |  round((dsy - ((dn*dsxy - dsx*dsy) / (dn*dsxx - dsx*dsx)) * dsx) / dn, 6)
        |    AS intercept,
        |  round(((dn*dsxy - dsx*dsy) / sqrt(dn*dsxx - dsx*dsx))
        |      * ((dn*dsxy - dsx*dsy) / sqrt(dn*dsyy - dsy*dsy))
        |      / sqrt(dn*dsxx - dsx*dsx) / sqrt(dn*dsyy - dsy*dsy), 6) AS r2,
        |  round((dn*dsxy - dsx*dsy) / sqrt(dn*dsxx - dsx*dsx)
        |      / sqrt(dn*dsyy - dsy*dsy), 6) AS corr_xy,
        |  round((dsxy - dsx*dsy/dn) / (dn - 1.0), 6) AS covar_samp
        |FROM m ORDER BY flag""".stripMargin,
    "q_agg_filtered" ->
      """SELECT o_orderstatus AS status,
        |  count(*) AS n_orders,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  round(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_totalprice > 150000), 0) AS DOUBLE), 2) AS sum_hi,
        |  CASE WHEN count(*) FILTER (WHERE o_totalprice < 50000) > 0 THEN
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |            FILTER (WHERE o_totalprice < 50000) AS DOUBLE)
        |      / count(*) FILTER (WHERE o_totalprice < 50000), 6) END AS avg_low,
        |  bool_and(o_totalprice > 0) AS all_pos,
        |  bool_or(o_totalprice > 400000) AS any_jumbo
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "q_unpivot" ->
      """SELECT p_partkey, p_brand, 'retailprice' AS metric,
        |  CAST(p_retailprice AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, p_brand, 'size' AS metric,
        |  CAST(p_size AS DOUBLE) AS value FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "q_recursive_chain" -> chainSql(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders""".stripMargin),
    "q_lateral_topn" -> lateralSql("customer", "orders"),
    "q_multi_distinct" ->
      """SELECT l_linestatus AS status,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp,
        |  count(DISTINCT l_returnflag) AS nd_flag,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY status""".stripMargin,
  )
}
