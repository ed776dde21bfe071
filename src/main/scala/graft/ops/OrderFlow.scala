package graft.ops

import graft.C
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-lifecycle analytics — batch forms of the reference's
  * OrderTimeoutDetect package. Streaming twins live in [[graft.state]] /
  * [[graft.streaming]].
  */
object OrderFlow {

  /** Create→pay matching with timeout
    * (H/OrderTimeoutDetect/OrderTimeout.scala:58-143,
    * OrderTimeoutWithOutCep.scala:45-84 — CEP `create followedBy pay
    * within(15min)`).
    *
    * Event mapping (FIXTURES.md §B): create := `signup`, pay := `purchase`,
    * order id := the signup's event_id, pay := the user's next purchase
    * event. Reference timeout 15 min re-parameterized to 1 h for testdata
    * density. All four reference outcome messages collapse to three here
    * (the pay-without-create branch, OrderTimeout.scala:116-123, cannot
    * occur when the order id *is* the create event):
    *   'payed successfully' | 'payed but already timeout' | 'order timeout'.
    *
    * The "next purchase after this signup" lookup is a reversed-cumulative
    * min over the per-user event sequence — one shuffle on user_id, no
    * self-join, scales with events/user not events².
    */
  def orderTimeout(events: DataFrame, timeoutSec: Long = 3600): DataFrame =
    nextPay(events, "user_id", "event_id", col("event_type") === "signup",
        col("event_type") === "purchase", timeoutSec)
      .select(col("event_id").as("order_id"), col("user_id"), col("create_ts"),
        col("pay_ts"), col("result_msg"))
      .orderBy(col("order_id"))

  /** The next-pay kernel: each create row of `rows`, with the epoch second
    * of the first pay after it in its `key`'s (ts, `tie`) order, as
    * `(key, tie, create_ts, pay_ts, result_msg)` — pay_ts NULL when none
    * follows, and result_msg one of the three outcomes above by
    * `timeoutSec`.
    */
  def nextPay(rows: DataFrame, key: String, tie: String, isCreate: Column, isPay: Column,
      timeoutSec: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col(tie))
      .rowsBetween(1, Window.unboundedFollowing)
    rows
      .select(col(key), col(tie), col("ts"), isCreate.as("is_create"), isPay.as("is_pay"),
        C.epochSec(col("ts")).as("e"))
      .filter(col("is_create") || col("is_pay"))
      .withColumn("pay_ts", min(when(col("is_pay"), col("e"))).over(w))
      .filter(col("is_create"))
      .select(col(key), col(tie), col("e").as("create_ts"), col("pay_ts"),
        when(col("pay_ts").isNull, lit("order timeout"))
          .when(col("pay_ts") - col("e") <= timeoutSec, lit("payed successfully"))
          .otherwise(lit("payed but already timeout")).as("result_msg"))
  }

  val orderTimeoutSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_id, event_type, ${C.epochSecSql} AS e,
       |         min(CASE WHEN event_type = 'purchase' THEN ${C.epochSecSql} END)
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_pay
       |  FROM events WHERE event_type IN ('signup', 'purchase')
       |)
       |SELECT event_id AS order_id, user_id, e AS create_ts, next_pay AS pay_ts,
       |       CASE WHEN next_pay IS NULL THEN 'order timeout'
       |            WHEN next_pay - e <= 3600 THEN 'payed successfully'
       |            ELSE 'payed but already timeout' END AS result_msg
       |FROM seq WHERE event_type = 'signup'
       |ORDER BY order_id""".stripMargin

  /** Event-time interval join (H/OrderTimeoutDetect/OrderPayTxMatchWithJoin
    * .scala:54-57: equi-key txId, receipt.ts ∈ [pay.ts−5 s, pay.ts+3 s]).
    * Two-table stand-in: orders↔lineitem on orderkey with
    * l_shipdate ∈ [o_orderdate, o_orderdate + 7 d]. Equi-key plus range
    * predicate — Catalyst plans the equi-join (sort-merge / AQE-picked) and
    * evaluates the range as a post-join filter; at cluster scale both sides
    * co-partition on the key, exactly like Flink's dual keyBy
    * (OrderPayTxMatch.scala:42,52).
    */
  def txMatchInterval(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderdate"))
      .join(lineitem.select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 7 DAY"))
      .select(
        col("o_orderkey").as("order_key"), col("l_linenumber").as("line_no"),
        C.epochSec(col("o_orderdate")).as("order_ts"),
        C.epochSec(col("l_shipdate")).as("ship_ts"))
      .orderBy(col("order_key"), col("line_no"))

  val txMatchIntervalSql: String =
    """SELECT o_orderkey AS order_key, l_linenumber AS line_no,
      |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
      |       CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_ts
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  AND l_shipdate >= o_orderdate
      |  AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
      |ORDER BY order_key, line_no""".stripMargin

  /** Unmatched sides of the interval match — the reference's
    * `unmatched-pays` / `unmatched-receipts` side outputs
    * (H/OrderTimeoutDetect/OrderPayTxMatch.scala:110-125), re-expressed as
    * one tagged union: orders with no in-window lineitem (left-anti join)
    * and lineitems whose ship date falls outside their order's window.
    */
  def txUnmatched(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderdate"))
    val l = lineitem.select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    // single equi-join pass: each joined row carries its in-window flag;
    // the order side aggregates the flag (an order with no in-window line —
    // including no line at all via the left-outer null — is unmatched), the
    // line side filters it. One shuffle join instead of two.
    val joined = o
      .join(l, col("l_orderkey") === col("o_orderkey"), "left_outer")
      // STRICTLY boolean, never NULL: a row missing either date cannot be
      // matched and must SURFACE as unmatched (audit semantics — malformed
      // rows are the ones you want flagged). The isNotNull guards turn the
      // three-valued `>= NULL` into false (false && NULL = false), exactly
      // mirroring the oracle's COALESCE(..., FALSE)
      .withColumn("in_window",
        col("l_shipdate").isNotNull && col("o_orderdate").isNotNull &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 7 DAY"))

    val unmatchedOrders = joined
      .groupBy(col("o_orderkey"))
      .agg(max(col("in_window")).as("any_match"))
      .filter(!col("any_match"))
      .select(lit("unmatched_order").as("side"), col("o_orderkey").as("order_key"),
        lit(null).cast("int").as("line_no"))
    val unmatchedLines = joined
      .filter(col("l_linenumber").isNotNull && !col("in_window"))
      .select(lit("unmatched_line").as("side"), col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"))
    unmatchedOrders.unionAll(unmatchedLines)
      .orderBy(col("side"), col("order_key"), col("line_no"))
  }

  val txUnmatchedSql: String =
    """SELECT 'unmatched_order' AS side, o_orderkey AS order_key, CAST(NULL AS INTEGER) AS line_no
      |FROM orders o
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate >= o.o_orderdate
      |    AND l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY)
      |UNION ALL
      |SELECT 'unmatched_line' AS side, l.l_orderkey AS order_key, l.l_linenumber AS line_no
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE NOT COALESCE(l.l_shipdate >= o.o_orderdate
      |           AND l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY, FALSE)
      |ORDER BY side, order_key, line_no""".stripMargin
}
