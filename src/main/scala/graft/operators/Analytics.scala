package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Exact, QueryDef}
import graft.Exact._
import graft.sources.Tables

/** Relational core. Every query is declarative DataFrame API — Catalyst gets
  * the whole plan, so filter pushdown / column pruning / join reordering and
  * AQE all apply. Dimension sides are explicitly broadcast where they are
  * bounded (region/nation/supplier), everything else shuffles on its join key
  * exactly once.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary: partial (map-side) aggregation does the
    * heavy lifting; cardinality of the group key is tiny so the shuffle is
    * a few bytes per partition regardless of input scale.
    *
    * Money math runs on the integer-cents fast path (see [[graft.Exact]]):
    * level 1 sums exact scaled longs inside whole-stage codegen per
    * (group, salt) — the salt keeps every partial under the long overflow
    * bound at any corpus size — and level 2 exactly rolls the tiny partial
    * set up with a wide-decimal sum. Bit-identical to the all-decimal form
    * (the oracle keeps plain decimal sums) at ~2x the throughput.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01"))
    // (1-d)*(1+t) is a product of two 2-decimal values = an exact 4-decimal
    // rational, so the scale-4 cents scaling is lossless like the rest
    val charge = cents(col("l_extendedprice"), 2) *
      cents((lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 4)
    withSalt(l, col("l_orderkey"))
      .groupBy("l_returnflag", "l_linestatus", "__salt")
      .agg(
        sum(cents(col("l_quantity"))).as("c_qty"),
        sum(cents(col("l_extendedprice"))).as("c_price"),
        sum(centsDisc(col("l_extendedprice"), col("l_discount"))).as("c_disc"),
        sum(charge).as("c_charge"),
        count(lit(1)).as("n"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        rollupCents(col("c_qty"), 2).as("sum_qty"),
        rollupCents(col("c_price"), 2).as("sum_base_price"),
        rollupCents(col("c_disc"), 4).as("sum_disc_price"),
        rollupCents(col("c_charge"), 6).as("sum_charge"),
        sum(col("n")).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Oracle: String =
    s"""SELECT *, sum_qty / count_order AS avg_qty,
       |       sum_base_price / count_order AS avg_price
       |FROM (
       |  SELECT l_returnflag, l_linestatus,
       |    ${sqlDsum("l_quantity")} AS sum_qty,
       |    ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |    CAST(SUM($sqlDiscPrice) AS DOUBLE) AS sum_disc_price,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |             CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
       |    COUNT(*) AS count_order
       |  FROM lineitem
       |  WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |  GROUP BY l_returnflag, l_linestatus
       |)
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style: filters reach the scans (pushdown), customer side is
    * pre-filtered on segment before the join.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01")
    val c = Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
    val l = Tables.t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    // lineitem is the STREAM side. The final fact⋈chain join is DECLARED
    // merge (r17, measured): without the hint the planner's size-only
    // estimator inflates the o⋈c chain (join estimates multiply) and
    // broadcasts the projected LINEITEM instead — building a hash relation
    // of the biggest input, backwards at every scale (same-JVM A/B at
    // sf0.1: 0.81 s static vs 0.68 s merge; OPTIMIZATION_r17.md §3). A
    // user join hint survives AQE re-optimization, so the hint pins
    // sort-merge at every scale, also where the filtered o⋈c chain fits the
    // broadcast threshold and AQE would otherwise broadcast it from runtime
    // sizes.
    l.join(o.join(c, col("c_custkey") === col("o_custkey")).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), epochUs(col("o_orderdate")).as("o_odate_us"),
        col("o_orderpriority"))
      // per-order group: a handful of lineitems, so the plain long-cents
      // sum is overflow-safe at any corpus size (bound is per-group)
      .agg(lsum(centsDisc(col("l_extendedprice"), col("l_discount")), 4)
        .as("revenue"))
      .select("l_orderkey", "revenue", "o_odate_us", "o_orderpriority")
      .orderBy("l_orderkey")
  }

  val q3Oracle: String =
    s"""SELECT l_orderkey, CAST(SUM($sqlDiscPrice) AS DOUBLE) AS revenue,
       |       epoch_us(o_orderdate) AS o_odate_us, o_orderpriority
       |FROM customer
       |JOIN orders   ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate  > TIMESTAMP '1998-01-01'
       |GROUP BY l_orderkey, epoch_us(o_orderdate), o_orderpriority
       |ORDER BY l_orderkey""".stripMargin

  /** TPC-H Q5-style 6-way join. region/nation/supplier are bounded dims ->
    * broadcast; orders/lineitem shuffle on their keys once.
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables.t(s, dir, "nation")
    val sup = Tables.t(s, dir, "supplier")
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.t(s, dir, "lineitem")
    // same stream-the-fact shape as q3: the r⋈n⋈c⋈o chain reduces to the
    // date-filtered orders annotated with nation — lineitem probes it.
    // The fact⋈chain join is DECLARED merge (r17, measured): the size-only
    // estimator inflates the chain and broadcast the projected LINEITEM
    // instead (same-JVM A/B at sf0.1: 1.05 s static vs 0.93 s merge;
    // OPTIMIZATION_r17.md §3). As in q3, the hint pins sort-merge through
    // AQE re-optimization, also where the chain would fit a broadcast.
    val chain = broadcast(r)
      .join(broadcast(n), col("n_regionkey") === col("r_regionkey"))
      .join(c, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("o_custkey") === col("c_custkey"))
    l.join(chain.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      // nation is a ~25-key global rollup -> salted two-level cents sum
      .transform(withSalt(_, col("o_orderkey")))
      .groupBy("n_name", "__salt")
      .agg(sum(centsDisc(col("l_extendedprice"), col("l_discount"))).as("c_rev"))
      .groupBy("n_name")
      .agg(rollupCents(col("c_rev"), 4).as("revenue"))
      .orderBy("n_name")
  }

  val q5Oracle: String =
    s"""SELECT n_name, CAST(SUM($sqlDiscPrice) AS DOUBLE) AS revenue
       |FROM region
       |JOIN nation   ON n_regionkey = r_regionkey
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders   ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  /** TPC-H Q10 shape — returned-item revenue ranking: who cost us the
    * most in returns in the period (Q10's quarter window — the order-date
    * predicate reaches the orders scan as a pushed filter, so the join
    * sees a slice, not the full history). 3-way fact chain + broadcast
    * nation dim, exact-cents revenue, global top-20 (TakeOrdered at the
    * physical level — no full sort materializes at any scale). The
    * per-customer long-cents sum keeps the q3 overflow argument: bound
    * is per GROUP, and a single customer's one-quarter returned-revenue
    * cents sit far under 2^63 at any plausible scale.
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-10-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.t(s, dir, "customer")
    val n = Tables.t(s, dir, "nation")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
      .agg(lsum(centsDisc(col("l_extendedprice"), col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10Oracle: String =
    s"""SELECT c_custkey, c_name, n_name, c_acctbal,
       |       CAST(SUM($sqlDiscPrice) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1997-10-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY c_custkey, c_name, n_name, c_acctbal
       |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** TPC-H Q17 shape — small-quantity-order revenue: lineitems of one
    * brand whose quantity sits under 20% of that part's corpus-wide mean
    * quantity, summed to the would-be yearly revenue loss. The classic
    * correlated-aggregate decorrelation: the per-part mean becomes ONE
    * partial-agg pass over lineitem (shuffle on l_partkey), re-joined to
    * the brand-filtered lineitems on the same key — Catalyst reuses the
    * l_partkey partitioning for both sides of the self-join, and the
    * brand filter reaches the part scan. The sub-mean comparison runs in
    * INTEGER space (5 * cents(qty) * cnt < sum_cents_qty — the 0.2 factor
    * cleared of division), so the predicate has no float boundary to
    * diverge on; the final sum is one exact decimal fold.
    *
    * At 100 TB: both sides shuffle once on l_partkey (AQE can pick a
    * shuffle-hash join), part is pruned to one brand before its broadcast,
    * and the output is a single row — nothing materializes a full sort.
    */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
    val p = Tables.t(s, dir, "part").filter(col("p_brand") === "Brand#4")
    val perPart = l.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(cents(col("l_quantity"))).as("sq"), count(lit(1)).as("cnt"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("a_partkey"))
      .filter(cents(col("l_quantity")) * lit(5L) * col("cnt") < col("sq"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  val q17Oracle: String =
    s"""WITH agg AS (
       |  SELECT l_partkey AS a_partkey,
       |         SUM(CAST(FLOOR(l_quantity*100 + 0.5) AS BIGINT)) AS sq,
       |         COUNT(*) AS cnt
       |  FROM lineitem GROUP BY 1)
       |SELECT ${sqlDsum("l_extendedprice")} / 7.0 AS avg_yearly,
       |       COUNT(*) AS n_items
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |JOIN agg  ON a_partkey = l_partkey
       |WHERE p_brand = 'Brand#4'
       |  AND CAST(FLOOR(l_quantity*100 + 0.5) AS BIGINT) * 5 * cnt < sq""".stripMargin

  /** TPC-H Q18 shape — large-volume orders: orders whose total quantity
    * crosses a threshold, ranked by order value. The HAVING-on-sum
    * pre-aggregate runs FIRST and keeps only qualifying order keys, so the
    * customer join sees the reduced set, not the fact table; top-100 is a
    * TakeOrdered, no global sort. Per-order quantity sums are exact
    * decimals (and per-GROUP bounded, q3's overflow argument).
    */
  def q18VolumeCustomers(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("b_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    Tables.t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("b_orderkey"))
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        epochUs(col("o_orderdate")).as("odate_us"), col("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  val q18Oracle: String =
    s"""SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS odate_us,
       |       o_totalprice, sum_qty
       |FROM (SELECT l_orderkey, ${sqlDsum("l_quantity")} AS sum_qty
       |      FROM lineitem GROUP BY l_orderkey
       |      HAVING sum_qty > 250.0)
       |JOIN orders   ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  /** Multi-level aggregation in one pass (ROLLUP). */
  def qRollupRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val qRollupOracle: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       |       ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** TPC-H Q6 shape — the forecast-revenue filter aggregate: a pure
    * scan-filter-sum with EVERY predicate pushed to the parquet scan
    * (plan-asserted) — the query whose entire cost at 100 TB is decided
    * by how much the scan skips, which is why it pairs with the
    * date-partitioned / z-ordered layouts. Revenue = Σ price·discount as
    * exact scale-4 integer cents under the q1 salt discipline (global
    * single group ⇒ salted level 1, wide-decimal level 2).
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
    withSalt(l, col("l_orderkey"))
      .groupBy("__salt")
      .agg(sum(cents(col("l_extendedprice"), 2) * cents(col("l_discount"), 2))
        .as("c_rev"), count(lit(1)).as("n"))
      .agg(rollupCents(col("c_rev"), 4).as("revenue"),
        sum(col("n")).as("n_items"))
  }

  val q6Oracle: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q14 shape — promo revenue share: the conditional-aggregate
    * ratio over a month's lineitem⋈part join. Both sums ride ONE salted
    * pass; the part side prunes to (partkey, type) at the scan. The final
    * share is one IEEE division of two exactly-summed decimals — both
    * engines compute the identical double.
    */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-03-01") &&
        col("l_shipdate") < lit("1997-04-01"))
    val p = Tables.t(s, dir, "part").select("p_partkey", "p_type")
    val joined = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
    withSalt(joined, col("l_orderkey"))
      .groupBy("__salt")
      .agg(
        sum(when(col("p_type") === "PROMO",
          centsDisc(col("l_extendedprice"), col("l_discount")))
          .otherwise(0L)).as("c_promo"),
        sum(centsDisc(col("l_extendedprice"), col("l_discount"))).as("c_all"))
      .agg(rollupCents(col("c_promo"), 4).as("promo_revenue"),
        rollupCents(col("c_all"), 4).as("total_revenue"))
      .withColumn("promo_share_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  val q14Oracle: String =
    s"""SELECT promo_revenue, total_revenue,
       |       100.0 * promo_revenue / total_revenue AS promo_share_pct
       |FROM (
       |  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $sqlDiscPrice
       |                       ELSE CAST(0 AS DECIMAL(36,4)) END) AS DOUBLE) AS promo_revenue,
       |         CAST(SUM($sqlDiscPrice) AS DOUBLE) AS total_revenue
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
       |    AND l_shipdate <  TIMESTAMP '1997-04-01')""".stripMargin

  /** TPC-H Q19 shape — disjunctive bracket predicates: three (brand, size,
    * quantity) branches OR'ed together, the stress test for predicate
    * handling — a planner that can't push a disjunction reads everything.
    * Spark pushes the OR of conjunctions into BOTH scans (part: brand/size
    * brackets; lineitem: the quantity envelope), then the residual filter
    * runs post-join. Exact-cents revenue, per-group bound (q3 argument).
    */
  def q19BracketRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
    val p = Tables.t(s, dir, "part")
    val joined = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val branch1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#2" &&
      col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" &&
      col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
    withSalt(joined.filter(branch1 || branch2 || branch3), col("l_orderkey"))
      .groupBy("__salt")
      .agg(sum(centsDisc(col("l_extendedprice"), col("l_discount"))).as("c_rev"),
        count(lit(1)).as("n"))
      .agg(rollupCents(col("c_rev"), 4).as("revenue"), sum(col("n")).as("n_items"))
  }

  val q19Oracle: String =
    s"""SELECT CAST(SUM($sqlDiscPrice) AS DOUBLE) AS revenue, COUNT(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q13 shape — customer order-count distribution: the two-level
    * aggregate over a LEFT OUTER join (the outer side matters — customers
    * with zero orders are the histogram's head, and an inner join silently
    * drops them). Level 1 shuffles once on the join/group key (Catalyst
    * reuses the c_custkey partitioning for join AND count); level 2 is a
    * tiny histogram fold over ≤ max-order-count rows per partition. At
    * 100 TB both sides shuffle once; nothing else moves.
    */
  def q13CustDist(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val q13Oracle: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** CUBE — all 2^k grouping combinations in ONE pass (rollup's superset:
    * adds the (priority-only) marginals a rollup skips). Spark expands the
    * grouping sets before the shuffle and partial-aggregates each, so the
    * exchange still carries only group rows — at 100 TB the cost is the
    * same single shuffle as a flat group-by, times the (tiny) grouping-set
    * multiplicity, never a second scan per level.
    */
  def qCubeRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val qCubeOracle: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       |       ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Top-k per group via ranking window; deterministic tiebreak on the key. */
  def qTopkOrdersPerCust(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.t(s, dir, "orders")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }

  val qTopkOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  def qDistinctCusts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  val qDistinctOracle: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs,
      |       COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** EXISTS -> left-semi join: never duplicates the probe side. */
  def qSemiOrderedCusts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val qSemiOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** NOT EXISTS -> left-anti join (customers with no URGENT order). */
  def qAntiSilentCusts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val qAntiOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Scalar-subquery shape: global aggregate broadcast against the scan —
    * one pass over `part`, no driver-side collect.
    */
  def qAboveAvgPriceParts(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.t(s, dir, "part")
    val avgP = p.agg(
      (dsum(col("p_retailprice")) / count(lit(1))).as("avg_price"))
    p.crossJoin(broadcast(avgP))
      .filter(col("p_retailprice") > col("avg_price"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }

  val qAboveAvgOracle: String =
    s"""SELECT p_partkey, p_name, p_retailprice FROM part
       |WHERE p_retailprice > (SELECT ${sqlDsum("p_retailprice")} / COUNT(*) FROM part)
       |ORDER BY p_partkey""".stripMargin

  /** Conditional aggregation (pivot shape) — one scan, no joins. */
  def qPivotStatusCounts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  val qPivotOracle: String =
    """SELECT o_orderpriority,
      |  COUNT(CASE WHEN o_orderstatus='F' THEN 1 END) AS n_f,
      |  COUNT(CASE WHEN o_orderstatus='O' THEN 1 END) AS n_o,
      |  COUNT(CASE WHEN o_orderstatus='P' THEN 1 END) AS n_p,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Running (cumulative) aggregate per key: one shuffle, frame-ordered
    * window; the decimal cast keeps the running sum exact so both engines
    * agree bit-for-bit at every prefix.
    */
  def qCumsumCust(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        epochUs(col("o_orderdate")).as("odate_us"),
        sum(d2(col("o_totalprice"))).over(w).cast(DoubleType).as("running_total"))
      .orderBy("o_custkey", "odate_us", "o_orderkey")
  }

  val qCumsumOracle: String =
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS odate_us,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
      |FROM orders
      |ORDER BY o_custkey, odate_us, o_orderkey""".stripMargin

  /** Percent-of-total — the share-of-business rollup: per-group exact
    * revenue against the exact global total. The total is NOT a window
    * over the per-group doubles (a float fold whose association order is
    * partition-dependent): it is its own decimal aggregate, broadcast as
    * one row, so group/total/share are all engine-exact. Two aggregates
    * over one scan's exchange reuse; share is one shared IEEE division.
    */
  def qPriorityShare(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(s, dir, "orders")
    val per = o.groupBy("o_orderpriority").agg(dsum(col("o_totalprice")).as("rev"))
    val total = o.agg(dsum(col("o_totalprice")).as("total"))
    per.crossJoin(broadcast(total))
      .select(col("o_orderpriority"), col("rev"), col("total"),
        (lit(100.0) * col("rev") / col("total")).as("share_pct"))
      .orderBy("o_orderpriority")
  }

  val qShareOracle: String =
    s"""SELECT o_orderpriority, ${sqlDsum("o_totalprice")} AS rev,
       |       (SELECT ${sqlDsum("o_totalprice")} FROM orders) AS total,
       |       100.0 * ${sqlDsum("o_totalprice")} /
       |         (SELECT ${sqlDsum("o_totalprice")} FROM orders) AS share_pct
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q7 shape — bilateral trade volume: revenue shipped between two
    * specific nations per ship-year, in both directions. The nation pair
    * predicate collapses supplier and customer to slices BEFORE the fact
    * joins (both nation dims broadcast; the filtered supplier/customer
    * sides stay small enough that Catalyst broadcasts them too at any SF —
    * only the lineitem⋈orders fact join shuffles). The symmetric
    * "(A,B) or (B,A)" condition is applied on the joined slice, exactly
    * TPC-H's form. Per-(supp_nation, cust_nation, year) long-cents sums:
    * a two-nation-pair year group is bounded far under the 2^63 ceiling.
    */
  def q7NationTrade(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val l = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
    val o = Tables.t(s, dir, "orders")
    val c = Tables.t(s, dir, "customer")
    val sup = Tables.t(s, dir, "supplier")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .withColumn("l_year", year(col("l_shipdate")).cast("long"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(lsum(centsDisc(col("l_extendedprice"), col("l_discount")), 4).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Oracle: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |       CAST(SUM(volume) AS DOUBLE) AS revenue
       |FROM (
       |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |         $sqlDiscPrice AS volume
       |  FROM lineitem
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ns ON s_nationkey = ns.n_nationkey
       |  JOIN nation nc ON c_nationkey = nc.n_nationkey
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1998-01-01'
       |    AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       |      OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')))
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 shape — national market share: of all PROMO-part revenue
    * sold into the ASIA market per order-year, what fraction came from one
    * nation's suppliers. Share math is exact end-to-end: numerator and
    * denominator are each one decimal sum over the same joined slice (the
    * numerator a conditional CASE inside the same aggregate — one shuffle,
    * not two scans), divided once in IEEE double, so both engines agree
    * bit-for-bit. Part/nation/region/supplier broadcast; the fact chain
    * shuffles on its join keys only.
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.t(s, dir, "part").filter(col("p_type") === "PROMO")
    val r = Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n1 = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val n2 = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val sup = Tables.t(s, dir, "supplier")
    val l = Tables.t(s, dir, "lineitem")
    val o = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.t(s, dir, "customer")
    val vol = centsDisc(col("l_extendedprice"), col("l_discount"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
      .join(broadcast(r), col("cn_region") === col("r_regionkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .groupBy("o_year")
      .agg(
        lsum(when(col("supp_nation") === "NATION_8", vol).otherwise(lit(0L)), 4)
          .as("nation_volume"),
        lsum(vol, 4).as("total_volume"))
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
      .orderBy("o_year")
  }

  val q8Oracle: String =
    s"""SELECT o_year,
       |  CAST(SUM(CASE WHEN supp_nation = 'NATION_8' THEN volume
       |                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_volume,
       |  CAST(SUM(volume) AS DOUBLE) AS total_volume,
       |  CAST(SUM(CASE WHEN supp_nation = 'NATION_8' THEN volume
       |                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
       |FROM (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |         $sqlDiscPrice AS volume, ns.n_name AS supp_nation
       |  FROM lineitem
       |  JOIN part     ON l_partkey = p_partkey
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation nc ON c_nationkey = nc.n_nationkey
       |  JOIN region   ON nc.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ns ON s_nationkey = ns.n_nationkey
       |  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate <  TIMESTAMP '1998-01-01')
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  /** TPC-H Q12 shape — shipping-delay service levels: per delay bucket
    * (on-time / late = shipped >90 days after order), how many high- vs
    * low-priority orders landed there — Q12's pivot of a derived shipping
    * attribute against order priority (the reference schema has no
    * l_shipmode; the delay bucket is the same two-class derived
    * dimension). One fact-fact join on the order key (both sides shuffle
    * once), conditional counts in ONE aggregate, date arithmetic in
    * integer days on both engines.
    */
  def q12LateShipments(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(s, dir, "lineitem")
    val o = Tables.t(s, dir, "orders")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("bucket",
        when(datediff(col("l_shipdate"), col("o_orderdate")) > 90, "LATE")
          .otherwise("ONTIME"))
      .groupBy("bucket")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy("bucket")
  }

  val q12Oracle: String =
    """SELECT bucket,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                         THEN 1 END), 0) AS BIGINT) AS high_line_count,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |                         THEN 1 END), 0) AS BIGINT) AS low_line_count
      |FROM (
      |  SELECT o_orderpriority,
      |         CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
      |              THEN 'LATE' ELSE 'ONTIME' END AS bucket
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** TPC-H Q15 shape — top supplier(s) by quarterly revenue: the classic
    * view + MAX-equality pattern (ALL suppliers achieving the maximum —
    * ties kept, which a LIMIT 1 silently breaks). The revenue view is one
    * partial-agg pass over the quarter's lineitem slice (date filter
    * pushed to the scan); the max is a one-row aggregate of the view
    * broadcast back against it — no second lineitem scan, no sort.
    * Revenue doubles come from exact cents sums, so the `= max` equality
    * is safe on both engines (identical bit patterns, not approximately-
    * equal floats). Supplier dim broadcast for the name join.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(lsum(centsDisc(col("l_extendedprice"), col("l_discount")), 4)
        .as("total_revenue"))
      .persist()
    val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
    val out = rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
      .localCheckpoint(true)
    rev.unpersist()
    out
  }

  val q15Oracle: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey, CAST(SUM($sqlDiscPrice) AS DOUBLE) AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM rev JOIN supplier ON s_suppkey = l_suppkey
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q22 shape — the global sales opportunity: customers with
    * above-average positive account balance and no RECENT order (lapsed
    * since 1999 — the strict never-ordered form is vacuous on this data:
    * every rich customer has SOME order at gate scale; the windowed
    * lapse is the form a retention team actually runs, and the anti-join
    * build side shrinks to the window's slice with the date filter
    * pushed to the orders scan), rolled up by nation-key prefix class
    * (the schema has no phone; nation key modulo 5 plays the
    * country-code bucket). Q22's two signature moves survive intact:
    * the scalar subquery (average over a FILTERED slice, broadcast back
    * — no driver collect) and the NOT EXISTS anti join against orders.
    * Exact decimal sums both engines agree on; the anti join shuffles
    * each side once on the key.
    */
  def q22SalesOpportunity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer")
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("cntrycode", pmod(col("c_nationkey"), lit(5)).cast("long"))
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  val q22Oracle: String =
    s"""SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
       |       COUNT(*) AS numcust, ${sqlDsum("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (SELECT ${sqlDsum("c_acctbal")} / COUNT(*)
       |                   FROM customer WHERE c_acctbal > 0)
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
       |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin

  /** Market-basket affinity — the frequent-itemset staple (which parts are
    * co-ordered): ONE fact shuffle folds each order to its sorted distinct
    * part set (bounded by lines-per-order ≈ 7, map-side combined), pairs
    * expand MAP-SIDE from each tiny set — never a fact self-join, which
    * would re-shuffle the corpus or (under AQE at small scale) broadcast
    * a corpus-sized distinct table — then the pair counts take one more
    * bounded shuffle and the global top-20 is a TakeOrdered
    * (per-partition heaps, driver merges |partitions|·20 rows).
    * All-integer, sorted sets + deterministic tie-break → hash-exact
    * (the oracle uses the equivalent self-join formulation; equal hashes
    * prove the set-expansion rewrite correct).
    */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"))
        .as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)

  val qBasketOracle: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
      |FROM lp a JOIN lp b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin

  /** HLL sketch distinct — the 100 TB answer to COUNT(DISTINCT): no exact
    * shuffle of the full key set, just a |groups|·1024-key register fold.
    * Gated on the engine-portable sketch ([[PortableHll]]) so the ESTIMATE
    * is hash-exact vs DuckDB (r11 flip; was rows-only); the codegen'd
    * native `approx_count_distinct` stays the raw-throughput alternative,
    * accuracy-pinned against this one in `PortableHllSpec`.
    */
  def qApproxDistinctCusts(s: SparkSession, dir: String): DataFrame =
    PortableHll
      .groupedEstimate(Tables.t(s, dir, "orders"),
        Seq("o_orderpriority"), col("o_custkey"))
      .select(col("o_orderpriority"),
        floor(col("est")).cast("long").as("n_custs_approx"))
      .orderBy("o_orderpriority")

  val qApproxDistinctOracle: String =
    s"""WITH ${PortableHll.sqlEstimateCte("ad", "orders", "o_orderpriority", "o_custkey")}
       |SELECT g AS o_orderpriority,
       |       CAST(FLOOR(est) AS BIGINT) AS n_custs_approx
       |FROM ad_est ORDER BY o_orderpriority""".stripMargin

  /** The native HLL++ distinct (engine-specific estimate, so spec-pinned
    * against the portable sketch rather than gated).
    */
  private[graft] def nativeApproxDistinctCusts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.01).as("n_custs_approx"))
      .orderBy("o_orderpriority")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", q1PricingSummary, Some(q1Oracle), headline = true),
    QueryDef("q3_shipping_priority", q3ShippingPriority, Some(q3Oracle), headline = true),
    QueryDef("q5_local_supplier", q5LocalSupplier, Some(q5Oracle), headline = true),
    QueryDef("q10_returned_items", q10ReturnedItems, Some(q10Oracle)),
    QueryDef("q17_small_qty_revenue", q17SmallQtyRevenue, Some(q17Oracle)),
    QueryDef("q18_volume_customers", q18VolumeCustomers, Some(q18Oracle)),
    QueryDef("q13_custdist", q13CustDist, Some(q13Oracle)),
    QueryDef("q6_forecast_revenue", q6ForecastRevenue, Some(q6Oracle)),
    QueryDef("q14_promo_share", q14PromoShare, Some(q14Oracle)),
    QueryDef("q7_nation_trade", q7NationTrade, Some(q7Oracle)),
    QueryDef("q8_market_share", q8MarketShare, Some(q8Oracle)),
    QueryDef("q15_top_supplier", q15TopSupplier, Some(q15Oracle)),
    QueryDef("q12_late_shipments", q12LateShipments, Some(q12Oracle)),
    QueryDef("q22_sales_opportunity", q22SalesOpportunity, Some(q22Oracle)),
    QueryDef("q19_bracket_revenue", q19BracketRevenue, Some(q19Oracle)),
    QueryDef("q_rollup_revenue", qRollupRevenue, Some(qRollupOracle)),
    QueryDef("q_cube_revenue", qCubeRevenue, Some(qCubeOracle)),
    QueryDef("q_topk_orders_per_cust", qTopkOrdersPerCust, Some(qTopkOracle)),
    QueryDef("q_distinct_custs", qDistinctCusts, Some(qDistinctOracle)),
    QueryDef("q_semi_ordered_custs", qSemiOrderedCusts, Some(qSemiOracle)),
    QueryDef("q_anti_silent_custs", qAntiSilentCusts, Some(qAntiOracle)),
    QueryDef("q_above_avg_price_parts", qAboveAvgPriceParts, Some(qAboveAvgOracle)),
    QueryDef("q_pivot_status_counts", qPivotStatusCounts, Some(qPivotOracle)),
    QueryDef("q_cumsum_cust", qCumsumCust, Some(qCumsumOracle)),
    QueryDef("q_basket_pairs", qBasketPairs, Some(qBasketOracle)),
    QueryDef("q_priority_share", qPriorityShare, Some(qShareOracle)),
    QueryDef("q_approx_distinct_custs", qApproxDistinctCusts, Some(qApproxDistinctOracle))
  )
}
