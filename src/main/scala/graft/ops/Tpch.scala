package graft.ops

import graft.C
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational batch aggregates over the TPC-H-ish tables — the flagship /
  * bench headline queries. The reference has no batch-relational layer
  * (SURVEY.md §2.8), so these exercise the engine's generic scan→agg→join
  * path that all other operators build on.
  *
  * Determinism: money math in exact DECIMAL, cast to DOUBLE on the final
  * projection only (see [[graft.C]]).
  */
object Tpch {

  private val one = lit(1).cast(DecimalType(18, 2))

  /** Pricing summary (TPC-H Q1 shape): scan-heavy, 4 aggregates per group,
    * 6 groups. Whole plan is scan → partial hash agg → exchange(6 groups) →
    * final agg: the shuffle moves O(groups × partitions) rows no matter the
    * input size, so this scales linearly with data volume.
    */
  def q1PricingSummary(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(
      col("l_returnflag"), col("l_linestatus"),
      C.dec(col("l_quantity")).as("qty"),
      C.dec(col("l_extendedprice")).as("price"),
      C.dec(col("l_discount")).as("disc"),
      C.dec(col("l_tax")).as("tax"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("qty")).cast("double").as("sum_qty"),
        sum(col("price")).cast("double").as("sum_base_price"),
        sum(col("price") * (one - col("disc"))).cast("double").as("sum_disc_price"),
        // the triple product must stay EXACT decimal in both engines: the
        // raw (18,2)·(19,2)·(19,2) chain needs width 56, which DuckDB
        // silently spills to DOUBLE (order-dependent sum — diverged at the
        // 6M-row scale run); an explicit (18,4) intermediate keeps the
        // second multiply within width 38 on both sides, scale-6 exact
        sum((col("price") * (one - col("disc"))).cast(DecimalType(18, 4))
          * (one + col("tax"))).cast("double").as("sum_charge"),
        (sum(col("qty")).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // Decimal sums leave DuckDB through a VARCHAR hop: DuckDB's direct
  // DECIMAL→DOUBLE cast double-rounds (int128 units → double, then ÷10^scale),
  // which is 1 ulp off correctly-rounded once the units exceed 2^53 —
  // observed at the 6M-row replica on sum_charge (scale-6 units ≈ 5.2e16).
  // Spark's Decimal.toDouble is correctly rounded; DECIMAL→VARCHAR→DOUBLE
  // is exact-then-correctly-rounded, so the hop reproduces Spark bitwise
  // at ANY magnitude.
  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2)) * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2)) * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(CASE WHEN isfinite(l_tax) THEN l_tax END AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue by customer nation (Q5 shape): fact table joined to two
    * broadcast dims, grouped by nation. Exercises broadcast-hash-join
    * pipelining — no shuffle on the fact side until the final 25-group agg.
    */
  def revenueByNation(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .select(col("o_custkey"), C.dec(col("o_totalprice")).as("price"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum(col("price")).cast("double").as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("nation"))

  val revenueByNationSql: String =
    """SELECT n_name AS nation,
      |  CAST(CAST(SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Shipping-priority shape (TPC-H Q3): two shuffle joins on the fact
    * tables + top-10 by revenue. The segment filter reaches the customer
    * scan; AQE picks the join strategy per side at runtime.
    */
  def q3ShippingPriority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    customer
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"),
        (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .select(col("o_orderkey").as("order_key"),
        C.epochSec(col("o_orderdate")).as("order_ts"), col("revenue"))
      .orderBy(col("revenue").desc, col("order_key"))
      .limit(10)

  val q3ShippingPrioritySql: String =
    """SELECT o_orderkey AS order_key,
      |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
      |  CAST(CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2)) * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, order_key LIMIT 10""".stripMargin

  /** Rollup counts (SURVEY.md §2.6: grouping sets free from Catalyst —
    * absent in the reference). NULL rollup slots are surfaced as 'ALL' so
    * the oracle compare never depends on engine NULL-sort conventions.
    */
  def rollupCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(C.epochSec(col("day")), lit(-1L)).as("day_ts"),
        col("cnt"))
      .orderBy(col("event_type"), col("day_ts"))

  val rollupCountsSql: String =
    """SELECT coalesce(event_type, 'ALL') AS event_type,
      |  coalesce(CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT), -1) AS day_ts,
      |  count(*) AS cnt
      |FROM events
      |GROUP BY ROLLUP (event_type, date_trunc('day', ts))
      |ORDER BY event_type, day_ts""".stripMargin

  /** Cube counts — the full grouping-sets lattice over
    * (event_type × weekday): all four grouping sets in one pass, the
    * `cube` companion to [[rollupCounts]]. Spark/DuckDB weekday origins
    * differ (1=Sunday vs 0=Sunday); the oracle shifts by one.
    */
  def cubeCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("cnt"))
      .orderBy(col("event_type"), col("dow"))

  val cubeCountsSql: String =
    """SELECT coalesce(event_type, 'ALL') AS event_type,
      |  coalesce(CAST(dayofweek(ts) + 1 AS BIGINT), -1) AS dow,
      |  count(*) AS cnt
      |FROM events
      |GROUP BY CUBE (event_type, dayofweek(ts))
      |ORDER BY event_type, dow""".stripMargin

  /** Per-user behavior profile via `pivot` — one column per event type,
    * fixed value list so the schema is static (pivot with an explicit
    * list is a single hash-agg with conditional counts; no extra pass to
    * discover values, no shuffle beyond the groupBy).
    */
  private val PivotTypes = Seq("click", "purchase", "signup", "error", "view")

  def userBehaviorPivot(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
      .orderBy(col("user_id"))

  val userBehaviorPivotSql: String = {
    val cols = PivotTypes.map(t =>
      s"count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Set difference (SURVEY.md §2.8: union/intersect/except built-in):
    * (user, day) pairs with a click but no purchase that day.
    */
  def clickersNeverPurchased(events: DataFrame): DataFrame =
    userDays(events, "click").except(userDays(events, "purchase"))
      .orderBy(col("user_id"), col("day"))

  /** Set intersection (the `intersect` of the §2.8 union/intersect/except
    * triple): (user, day) pairs with BOTH a click and a purchase that day.
    */
  def clickersWhoPurchased(events: DataFrame): DataFrame =
    userDays(events, "click").intersect(userDays(events, "purchase"))
      .orderBy(col("user_id"), col("day"))

  /** Distinct (user, UTC day number) pairs of one event type; the day
    * floors, so 1969-12-31 is day −1. */
  private def userDays(events: DataFrame, eventType: String): DataFrame =
    events.filter(col("event_type") === eventType)
      .select(col("user_id"), (C.epochSec(col("ts"), 86400) / 86400).cast("long").as("day"))
      .distinct()

  val clickersWhoPurchasedSql: String = clickerDaysSql("INTERSECT")

  val clickersNeverPurchasedSql: String = clickerDaysSql("EXCEPT")

  private def clickerDaysSql(setOp: String): String = {
    def days(t: String) = "SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day\n" +
      s"FROM events WHERE event_type = '$t'"
    s"${days("click")}\n$setOp\n${days("purchase")}\nORDER BY user_id, day"
  }

  /** Global ORDER BY + LIMIT (SURVEY.md §2.7): largest documents. Spark
    * executes this as a distributed TakeOrdered — per-partition top-k, no
    * global sort.
    */
  def globalTopDocs(documents: DataFrame, k: Int = 10): DataFrame =
    documents
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(k)

  val globalTopDocsSql: String =
    """SELECT doc_id, n_chars FROM documents
      |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin

  /** Local-supplier revenue (TPC-H Q5 shape): six-table join — fact⋈fact
    * on the order key plus FOUR dimension sides — with the classic
    * "customer and supplier share a nation" correlated predicate and a
    * region + order-date filter.
    *
    * Plan shape at 100 TB: the fact⋈fact join shuffles on `l_orderkey`
    * with both sides pruned first (the o_orderdate filter reaches the
    * orders scan). nation⋈region is hint-broadcast (always tiny); the
    * customer and region-reduced supplier sides are deliberately
    * UN-hinted — per-SF they are broadcastable and AQE converts them on
    * MEASURED size, while at 100 TB they degrade to co-partitioned joins
    * instead of OOMing the driver on a forced hint. The nation
    * co-membership check rides the supplier join as an extra equality —
    * never a second shuffle. Revenue in exact DECIMAL, cast once (the
    * [[q1PricingSummary]] construction). Output: (nation, revenue,
    * n_items).
    */
  def q5RegionRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    val asiaNations = nation
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = supplier
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("nation"))
  }

  /** Forecasting-revenue-change (TPC-H Q6 shape): the pure-pushdown
    * showcase. All four predicates are scan-level (`PushedFilters` on the
    * parquet read) and column pruning leaves only the four referenced
    * columns in `ReadSchema`; the global aggregate then moves ONE partial
    * row per partition through the exchange, so the plan's shuffled volume
    * is independent of input size — the 100 TB cost is the (pruned,
    * filtered) scan itself and nothing else. Money math stays exact
    * DECIMAL until the final projection (see [[graft.C]]); the discount
    * band compares binary doubles, which both engines parse to identical
    * IEEE values.
    */
  def q6ForecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(
        sum(C.dec(col("l_extendedprice")) * C.dec(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  val q6ForecastRevenueSql: String =
    """SELECT
      |  CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |       * CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Returned-item-reporting (TPC-H Q10 shape: top-20 customers by revenue
    * lost to returns in one quarter). Deliberate deviation from the
    * textbook plan: revenue aggregates to the BARE customer key first —
    * the fact⋈fact join's output collapses to customer cardinality BEFORE
    * the customer/nation attribute joins, so the wide name/acctbal columns
    * ride a customer-sized relation instead of a lineitem-sized one
    * (c_custkey is the customer PK, so grouping by it alone is
    * row-identical to grouping by all attributes). Nation is
    * hint-broadcast (25 rows always); the top-20 is
    * `TakeOrderedAndProject` on the total (revenue, cust_key) order —
    * never a global sort. Account balance passes through as the raw
    * parquet double (no arithmetic — bit-exact in both engines).
    */
  def q10ReturnedItemRevenue(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("revd"))
      .join(customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("cust_key"), col("c_name").as("cust_name"),
        col("revd").cast("double").as("revenue"),
        col("c_acctbal").as("acctbal"), col("n_name").as("nation"))
      .orderBy(col("revenue").desc, col("cust_key"))
      .limit(20)

  val q10ReturnedItemRevenueSql: String =
    """SELECT c_custkey AS cust_key, c_name AS cust_name,
      |  CAST(CAST(r.revd AS VARCHAR) AS DOUBLE) AS revenue,
      |  c_acctbal AS acctbal, n_name AS nation
      |FROM (
      |  SELECT o_custkey,
      |    SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |        * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS revd
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-04-01'
      |    AND l_returnflag = 'R'
      |  GROUP BY o_custkey
      |) r
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation ON n_nationkey = c_nationkey
      |ORDER BY revenue DESC, cust_key LIMIT 20""".stripMargin

  /** Order-priority-checking (TPC-H Q4 shape, adapted: the synthetic
    * lineitem has no commit/receipt dates, so the EXISTS probes for a
    * returned line instead of a late one — same semi-join skeleton). The
    * probe side is the date-filtered orders slice; the build side is the
    * returned-line key set, which the semi-join deduplicates itself (no
    * explicit distinct — LeftSemi stops at the first build-side match).
    * Both sides shuffle on the order key once; the final agg is
    * priority-cardinality (5 groups).
    */
  def q4OrderPriority(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(lineitem.filter(col("l_returnflag") === "R").select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val q5RegionRevenueSql: String =
    """SELECT n_name AS nation,
      |  CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |       * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, nation""".stripMargin

  /** Shipping-modes-and-order-priority (TPC-H Q12 shape, adapted: the
    * synthetic lineitem has no ship mode or commit/receipt dates, so the
    * mode axis is `l_linestatus` and the lateness predicate is the 1996
    * ship-date year). Both sides push to their scans — the date range on
    * lineitem, nothing but column pruning on orders (the textbook query
    * filters only the fact) — then one equi-join on the order key and a
    * 2-group agg splitting counts by critical (1-URGENT/2-HIGH) vs other
    * priority. Shuffled volume collapses to the join keys + one flag
    * column; the agg output is mode-cardinality.
    */
  def q12ShipmodePriority(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val crit = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!crit, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q12ShipmodePrioritySql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Promotion-effect (TPC-H Q14 shape): the share of one month's revenue
    * earned by promo parts. ONE pass over the date-filtered fact with the
    * part dimension broadcast (p_partkey, p_type only); the conditional
    * and total revenues come out of the same aggregate — never two scans
    * or a self-join. Both sums stay exact DECIMAL; the percentage is an
    * IEEE double division of the two exact totals in both engines
    * (identical operand bits ⇒ identical quotient bits).
    */
  def q14PromoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))
    lineitem
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"), rev.as("rev"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("promo"),
        sum(col("rev")).as("total"))
      .select(
        (col("promo").cast("double") / col("total").cast("double") * 100)
          .as("promo_revenue_pct"),
        col("promo").cast("double").as("promo_revenue"),
        col("total").cast("double").as("total_revenue"))
  }

  val q14PromoRevenueSql: String =
    """SELECT
      |  CAST(CAST(promo AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(total AS VARCHAR) AS DOUBLE) * 100 AS promo_revenue_pct,
      |  CAST(CAST(promo AS VARCHAR) AS DOUBLE) AS promo_revenue,
      |  CAST(CAST(total AS VARCHAR) AS DOUBLE) AS total_revenue
      |FROM (
      |  SELECT
      |    sum(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |             * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo,
      |    sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |        * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS total
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |)""".stripMargin

  /** Large-volume-customer (TPC-H Q18 shape): orders whose total line
    * quantity exceeds [[Q18QtyThreshold]], top-100 by order value. The
    * HAVING prunes at the GROUP — lineitem aggregates to order keys and
    * drops non-qualifying groups BEFORE any attribute join, so the
    * orders/customer joins see only the qualifying handful (204 orders at
    * sf0.01, invariant per-order at larger SFs). Quantity sums in exact
    * DECIMAL; the top-100 is TakeOrderedAndProject on (totalprice desc,
    * orderkey), never a global sort.
    */
  private val Q18QtyThreshold = 250
  def q18LargeOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(C.dec(col("l_quantity"))).as("qty"))
      .filter(col("qty") > Q18QtyThreshold)
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name").as("cust_name"), col("c_custkey").as("cust_key"),
        col("o_orderkey").as("order_key"),
        unix_timestamp(col("o_orderdate")).as("order_date"),
        col("o_totalprice").as("total_price"),
        col("qty").cast("double").as("sum_qty"))
      .orderBy(col("total_price").desc, col("order_key"))
      .limit(100)

  val q18LargeOrdersSql: String =
    s"""SELECT c_name AS cust_name, c_custkey AS cust_key,
       |  o_orderkey AS order_key,
       |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_date,
       |  o_totalprice AS total_price,
       |  CAST(CAST(q.qty AS VARCHAR) AS DOUBLE) AS sum_qty
       |FROM (
       |  SELECT l_orderkey, sum(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING sum(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) > $Q18QtyThreshold
       |) q
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY total_price DESC, order_key LIMIT 100""".stripMargin

  /** Volume-shipping (TPC-H Q7 shape): bilateral trade revenue between two
    * nations by ship year. The nation-pair predicate prunes BOTH small
    * sides before they broadcast (25-row nation twice, then the filtered
    * supplier/customer slices ride AQE measured-size); the fact⋈orders key
    * join is the only corpus-scaled shuffle. Output is
    * (2 nations)² ∕ 2 × years rows.
    */
  def q7VolumeShipping(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val n1 = nation.select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin("NATION_3", "NATION_7"))
    val n2 = nation.select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin("NATION_3", "NATION_7"))
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("yr"), // DuckDB year() is BIGINT
        (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
  }

  val q7VolumeShippingSql: String =
    """SELECT supp_nation, cust_nation, yr,
      |  CAST(CAST(sum(rev) AS VARCHAR) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    year(l_shipdate) AS yr,
      |    CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |      * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2))) AS rev
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Top-supplier (TPC-H Q15 shape): the supplier(s) achieving the maximum
    * quarter revenue. Revenue aggregates per supplier in exact DECIMAL;
    * the 1-row max broadcasts back and equality selects the argmax set
    * (ties all surface, as in the spec) — never a global sort. The
    * supplier attribute join happens after the max prune, so it joins a
    * handful of rows.
    */
  def q15TopSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("total"))
    val top = rev.agg(max(col("total")).as("mx"))
    rev.join(broadcast(top), col("total") === col("mx"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |        * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS total
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey
      |)
      |SELECT s_suppkey, s_name, CAST(CAST(total AS VARCHAR) AS DOUBLE) AS total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total = (SELECT max(total) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** Small-quantity-order revenue (TPC-H Q17 shape): revenue locked in
    * lines ordering less than half a part's average quantity, one brand.
    * The correlated scalar subquery decorrelates into a per-part
    * (sum, count) aggregate joined back — and the half-average comparison
    * runs as the EXACT cross-multiplication `qty · 2 · cnt < sum` in
    * DECIMAL/BIGINT (both engines' `avg` of doubles would be
    * merge-order-dependent; no ratio is ever materialized). The per-part
    * aggregate groups on the join key, so the join back is
    * co-partitioned; part is broadcast.
    */
  def q17SmallQuantityRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val pavg = lineitem.groupBy(col("l_partkey").as("pk"))
      .agg(sum(C.dec(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("cnt"))
    lineitem
      .join(broadcast(part.filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(pavg, col("l_partkey") === col("pk"))
      .filter(C.dec(col("l_quantity")) * 2 * col("cnt") < col("sum_qty"))
      .agg((sum(C.dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  val q17SmallQuantityRevenueSql: String =
    """WITH pavg AS (
      |  SELECT l_partkey AS pk,
      |    sum(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS sum_qty,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT
      |  CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
      |    / 7.0 AS avg_yearly,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN pavg ON pk = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2)) * 2 * cnt < sum_qty""".stripMargin

  /** Discounted-revenue (TPC-H Q19 shape): three OR'd (brand, size band,
    * quantity band) predicates — the disjunctive-pushdown test. The part
    * side prunes to the union of the three brand/size slices BEFORE the
    * broadcast (the disjunction's part-only half is pushed to that scan);
    * the residual brand×quantity pairing evaluates on the joined row.
    */
  def q19DiscountedRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val p = part.filter(
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35)))
      .select(col("p_partkey"), col("p_brand"))
    lineitem
      .select(col("l_partkey"), col("l_quantity"),
        (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19DiscountedRevenueSql: String =
    """SELECT
      |  CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |       * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** National-market-share (TPC-H Q8 shape): the share of ASIA's ECONOMY-
    * part revenue supplied by NATION_2, per order year. The two-sided
    * conditional ratio comes out of ONE aggregate over the joined fact —
    * numerator and denominator share every scan and shuffle. Pruning
    * order mirrors the spec: part filters to the type slice and
    * broadcasts; region→nation derives the ASIA nation-key set (broadcast
    * to prune customer); the customer and supplier key joins ride AQE
    * measured-size (their filtered slices are corpus-scaled — the Q5
    * posture, no static hint). The only fact⋈fact shuffle is
    * lineitem⋈orders on the order key. Exact DECIMAL sums; the share is
    * one double division of the two exact totals.
    */
  def q8MarketShare(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame,
      part: DataFrame): DataFrame = {
    val asiaKeys = nation
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val ord = orders
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .join(customer.select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(asiaKeys), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
    lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev"))
      .join(broadcast(part.filter(col("p_type") === "ECONOMY").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_2", col("rev"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("nat"),
        sum(col("rev")).as("tot"))
      .select(col("o_year"),
        (col("nat").cast("double") / col("tot").cast("double")).as("mkt_share"),
        col("nat").cast("double").as("nation_revenue"),
        col("tot").cast("double").as("total_revenue"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    """SELECT o_year,
      |  CAST(CAST(nat AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS mkt_share,
      |  CAST(CAST(nat AS VARCHAR) AS DOUBLE) AS nation_revenue,
      |  CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS total_revenue
      |FROM (
      |  SELECT year(o_orderdate) AS o_year,
      |    sum(CASE WHEN n2.n_name = 'NATION_2'
      |        THEN CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |             * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS nat,
      |    sum(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
      |        * (1 - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))) AS tot
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
      |  JOIN region ON r_regionkey = n1.n_regionkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
      |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1
      |) ORDER BY o_year""".stripMargin

  /** Customer-distribution (TPC-H Q13 shape, adapted: the synthetic orders
    * table has no comment column, so no comment-pattern exclusion —
    * documented deviation). Orders pre-aggregate to (custkey, count)
    * BEFORE the outer join — the join's left side is the customer KEY
    * column only and its right side is at most one row per customer, so
    * the histogram never shuffles attributes. Customers with no orders
    * surface through the left join as count 0 (the query's whole point —
    * an inner join would drop the headline bucket).
    */
  def q13CustomerDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val q13CustomerDistributionSql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT COALESCE(n, 0) AS c_count
      |  FROM customer
      |  LEFT JOIN (
      |    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
      |    FROM orders GROUP BY 1
      |  ) o ON c_custkey = o_custkey
      |)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Dormant-high-balance customers (TPC-H Q22 shape, adapted: the
    * synthetic customer has no phone, so the country-code axis is
    * `c_nationkey` — documented deviation). Three textbook pieces: a
    * scalar subquery (mean positive balance — computed as an exact
    * DECIMAL sum over a long count, broadcast as one row, never an
    * order-dependent double `avg`), an ANTI join against customers with
    * recent orders (the recent key set pre-distincts so the anti probe
    * shuffles unique keys), and a nation-sized aggregate.
    */
  def q22DormantBalance(customer: DataFrame, orders: DataFrame): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg((sum(C.dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    customer.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(C.dec(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  val q22DormantBalanceSql: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(CAST(sum(CAST(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
      |    AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(CAST(sum(CAST(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
      |           / count(*)
      |    FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Suppliers-who-kept-orders-waiting (TPC-H Q21 shape, adapted: the
    * synthetic lineitem has no commit/receipt dates, so "late" is the
    * `l_returnflag = 'R'` marker — the same lateness axis Q4 uses). For
    * each late line of a FINALIZED multi-supplier order, the line's
    * supplier is "waiting-guilty" iff NO other supplier in the order was
    * late: an EXISTS sibling (left-semi) plus a NOT EXISTS late-sibling
    * (left-anti), both keyed `l_orderkey` with the `<>`-supplier residual
    * as the join condition.
    *
    * Scale shape: supplier⋈nation prunes l1 FIRST via a broadcast hash
    * join (one nation ≈ 1/25 of suppliers — the cheapest cut, applied
    * before anything shuffles); the orders status filter is a second
    * broadcast-eligible semi leg at sf scale and a co-partitioned SMJ
    * at cluster scale; the semi and anti legs then shuffle ALL on the
    * SAME key (`l_orderkey`), so at 100 TB this is one exchange per
    * lineitem leg, no order-wide row explosion (semi/anti emit at most
    * one match per probe row), and the final agg is supplier-cardinality.
    * Reference-absent (SURVEY.md §2.8 "built-in when needed"): the
    * reference composes joins from Flink built-ins when a job needs them.
    */
  def q21WaitingSupplier(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val late = col("l_returnflag") === "R"
    val guiltyNation = supplier
      .join(broadcast(nation.filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    val l2 = lineitem.select(col("l_orderkey").as("l2_orderkey"),
      col("l_suppkey").as("l2_suppkey"))
    val l3 = lineitem.filter(late).select(col("l_orderkey").as("l3_orderkey"),
      col("l_suppkey").as("l3_suppkey"))
    lineitem.filter(late).select(col("l_orderkey"), col("l_suppkey"))
      .join(broadcast(guiltyNation), col("l_suppkey") === col("s_suppkey"))
      .join(orders.filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(l2, col("l_orderkey") === col("l2_orderkey")
        && col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
      .join(l3, col("l_orderkey") === col("l3_orderkey")
        && col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21WaitingSupplierSql: String =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM lineitem l1
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // Synthesized partsupp + the five partsupp-dependent TPC-H shapes
  // (Q2 / Q9 / Q11 / Q16 / Q20). The testdata has no partsupp parquet, so
  // the relation is DERIVED as a deterministic pure function of
  // (p_partkey, j∈0..3, |supplier|) — the SAME closed-form formula in the
  // Spark builder and the DuckDB oracle CTE, so both engines materialize a
  // bit-identical relation with no new files. Four suppliers per part
  // (TPC-H's fan-out): suppkey = (p_partkey + 3j) mod S is injective in j
  // because 3,6,9 are distinct non-zero residues for every S ≥ 10 (the
  // smallest SF ships 10 suppliers). supplycost is integer cents / 100.0 —
  // one IEEE division of an exact integer in both engines, bit-identical.
  // ---------------------------------------------------------------------

  /** Synthesized `partsupp(ps_partkey, ps_suppkey, ps_availqty,
    * ps_supplycost)`. The supplier count rides in as a broadcast one-row
    * relation (never a driver collect), then the 4-way fan-out is a
    * codegen'd explode — at 100 TB this derivation is a map-only stage
    * over the part table, no shuffle.
    */
  def partsupp(part: DataFrame, supplier: DataFrame): DataFrame = {
    val scnt = broadcast(supplier.agg(count(lit(1)).as("s_cnt")))
    part.select(col("p_partkey"))
      .crossJoin(scnt)
      .select(col("p_partkey"), col("s_cnt"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("j"))
      .withColumn("ps_suppkey", (col("p_partkey") + col("j") * 3) % col("s_cnt"))
      .select(
        col("p_partkey").as("ps_partkey"),
        col("ps_suppkey"),
        ((col("p_partkey") * 13 + col("ps_suppkey") * 17 + col("j") * 7) % 9999 + 1)
          .cast("int").as("ps_availqty"),
        (((col("p_partkey") * 31 + col("ps_suppkey") * 7 + col("j") * 11) % 100000 + 100)
          .cast("double") / 100.0).as("ps_supplycost"))
  }

  /** DuckDB twin of [[partsupp]] as a WITH-clause entry (prepend inside
    * `WITH $partsuppSqlCte, ...`). MATERIALIZED: several oracles reference
    * it more than once and DuckDB inlines CTEs by default.
    */
  val partsuppSqlCte: String =
    """partsupp AS MATERIALIZED (
      |  SELECT p_partkey AS ps_partkey,
      |         (p_partkey + j*3) % s_cnt AS ps_suppkey,
      |         CAST((p_partkey*13 + ((p_partkey + j*3) % s_cnt)*17 + j*7) % 9999 + 1
      |              AS INTEGER) AS ps_availqty,
      |         CAST((p_partkey*31 + ((p_partkey + j*3) % s_cnt)*7 + j*11) % 100000 + 100
      |              AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM part
      |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS s_cnt FROM supplier)
      |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
      |)""".stripMargin

  /** Minimum-cost supplier (TPC-H Q2 shape). The textbook correlated
    * `ps_supplycost = (SELECT min ...)` subquery is decorrelated by hand
    * into a per-part min over the SAME filtered candidate set, joined back
    * on (partkey, cost) — computing the min only over parts that survive
    * the size/type filter is row-identical for the survivors and skips the
    * min-agg over the other ~88 % of partsupp. Region-filtered suppliers
    * are a broadcast dim; the sort keys (acctbal desc, nation, supplier,
    * part) are a total order because (ps_partkey, ps_suppkey) is unique,
    * so the LIMIT cutoff is deterministic cross-engine.
    */
  def q2MinCostSupplier(part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val europeSupp = supplier
      .join(broadcast(nation
          .join(broadcast(region.filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val target = part
      .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_brand"))
    val cand = partsupp(part, supplier)
      .join(broadcast(europeSupp), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(target), col("ps_partkey") === col("p_partkey"))
    val minCost = cand.groupBy(col("ps_partkey").as("mc_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    cand
      .join(minCost, col("ps_partkey") === col("mc_partkey")
        && col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val q2MinCostSupplierSql: String =
    s"""WITH $partsuppSqlCte,
       |elig AS MATERIALIZED (
       |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name, p_brand
       |  FROM partsupp
       |  JOIN supplier ON s_suppkey = ps_suppkey
       |  JOIN nation ON n_nationkey = s_nationkey
       |  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
       |  JOIN part ON p_partkey = ps_partkey
       |            AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
       |),
       |mc AS (SELECT ps_partkey, min(ps_supplycost) AS min_cost
       |       FROM elig GROUP BY ps_partkey)
       |SELECT s_acctbal, s_name, n_name,
       |       ps_partkey AS p_partkey, p_brand, ps_supplycost
       |FROM elig JOIN mc USING (ps_partkey)
       |WHERE ps_supplycost = min_cost
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** Product-type profit (TPC-H Q9 shape): per-(nation, year) profit where
    * profit = revenue − supply cost, parts filtered by name. The one big
    * relation (lineitem) is scanned once; partsupp is part-derived (4×|part|)
    * and joins on the composite (partkey, suppkey); orders arrives pruned to
    * (orderkey, year). Money math exact DECIMAL to the final cast.
    */
  def q9ProductProfit(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val widget = part.filter(col("p_name").like("%widget%")).select(col("p_partkey"))
    val supp = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = orders.select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        C.dec(col("l_quantity")).as("qty"),
        (C.dec(col("l_extendedprice")) * (one - C.dec(col("l_discount")))).as("rev"))
      .join(broadcast(widget), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(partsupp(part, supplier),
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("rev") - C.dec(col("ps_supplycost")) * col("qty"))
        .cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProductProfitSql: String =
    s"""WITH $partsuppSqlCte
       |SELECT n_name AS nation,
       |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |       CAST(CAST(sum(
       |         CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))
       |           * (CAST(1 AS DECIMAL(18,2)) - CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,2)))
       |         - CAST(ps_supplycost AS DECIMAL(18,2))
       |           * CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))
       |       ) AS VARCHAR) AS DOUBLE) AS sum_profit
       |FROM lineitem
       |JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
       |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation ON n_nationkey = s_nationkey
       |JOIN orders ON o_orderkey = l_orderkey
       |GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
       |ORDER BY nation, o_year DESC""".stripMargin

  /** Important-stock identification (TPC-H Q11 shape): per-part inventory
    * value in one nation, kept when above a fixed fraction of the nation
    * total. The total is a broadcast one-row relation (the scalar subquery,
    * decorrelated); both the per-part and total sums are exact DECIMAL and
    * the threshold compare runs on doubles derived from them identically
    * in both engines.
    */
  def q11ImportantStock(part: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val natSupp = supplier
      .join(broadcast(nation.filter(col("n_name") === "NATION_15")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = partsupp(part, supplier)
      .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"), "left_semi")
      .select(col("ps_partkey"),
        (C.dec(col("ps_supplycost")) * col("ps_availqty")).as("v"))
    val byPart = vals.groupBy(col("ps_partkey")).agg(sum(col("v")).as("value_dec"))
    val total = broadcast(vals.agg(sum(col("v")).as("total_dec")))
    byPart.crossJoin(total)
      .filter(col("value_dec").cast("double") > col("total_dec").cast("double") * 0.0001)
      .select(col("ps_partkey"), col("value_dec").cast("double").as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  val q11ImportantStockSql: String =
    s"""WITH $partsuppSqlCte,
       |vals AS MATERIALIZED (
       |  SELECT ps_partkey,
       |         CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty AS v
       |  FROM partsupp
       |  WHERE ps_suppkey IN (SELECT s_suppkey FROM supplier
       |                       JOIN nation ON n_nationkey = s_nationkey
       |                       WHERE n_name = 'NATION_15')
       |)
       |SELECT ps_partkey,
       |       CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS value
       |FROM vals
       |GROUP BY ps_partkey
       |HAVING CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE)
       |       > (SELECT CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) FROM vals) * 0.0001
       |ORDER BY value DESC, ps_partkey""".stripMargin

  /** Parts/supplier relationship (TPC-H Q16 shape): distinct supplier count
    * per (brand, type, size) bucket, excluding one brand, one type family
    * and suppliers flagged by the complaint analog (negative account
    * balance — the testdata supplier has no comment column). The exclusion
    * list is a broadcast anti-join; count(DISTINCT) shuffles once on the
    * 3-part group key.
    */
  def q16PartsSupplierRelation(part: DataFrame, supplier: DataFrame): DataFrame = {
    val excluded = supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val buckets = part
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO"
        && col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    partsupp(part, supplier)
      .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(buckets, col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16PartsSupplierRelationSql: String =
    s"""WITH $partsuppSqlCte
       |SELECT p_brand, p_type, p_size,
       |       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       |FROM partsupp
       |JOIN part ON p_partkey = ps_partkey
       |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
       |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
       |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Potential part promotion (TPC-H Q20 shape): suppliers in one nation
    * holding excess stock (availqty > half the quantity they shipped of
    * that part in 1996) of name-prefixed parts. The shipped-quantity
    * subquery pre-aggregates lineitem to (partkey, suppkey) BEFORE joining
    * partsupp — the join input collapses from lineitem cardinality to the
    * distinct pair count; quantity sums stay exact DECIMAL and the
    * half-threshold compares doubles derived identically in both engines.
    */
  def q20PotentialPromotion(part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame, lineitem: DataFrame): DataFrame = {
    val coldParts = part.filter(col("p_name").like("cold%")).select(col("p_partkey"))
    val shipped = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(C.dec(col("l_quantity"))).as("sq"))
    val qualifying = partsupp(part, supplier)
      .join(broadcast(coldParts), col("ps_partkey") === col("p_partkey"), "left_semi")
      .join(shipped,
        col("ps_partkey") === col("l_partkey") && col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty").cast("double") > col("sq").cast("double") * 0.5)
      .select(col("ps_suppkey")).distinct()
    supplier
      .join(broadcast(nation
          .join(broadcast(region.filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val q20PotentialPromotionSql: String =
    s"""WITH $partsuppSqlCte,
       |shipped AS (
       |  SELECT l_partkey, l_suppkey,
       |         sum(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS sq
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-01-01'
       |  GROUP BY l_partkey, l_suppkey
       |)
       |SELECT s_suppkey, s_name, n_name, s_acctbal
       |FROM supplier
       |JOIN nation ON n_nationkey = s_nationkey
       |JOIN region ON r_regionkey = n_regionkey AND r_name = 'ASIA'
       |WHERE s_suppkey IN (
       |  SELECT ps_suppkey FROM partsupp
       |  JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
       |    AND CAST(ps_availqty AS DOUBLE) > CAST(sq AS DOUBLE) * 0.5)
       |ORDER BY s_name""".stripMargin
}
