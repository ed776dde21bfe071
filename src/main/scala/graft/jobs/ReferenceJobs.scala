package graft.jobs

import graft.C
import graft.ops.{EventWindows, FraudDetect, OrderFlow, Sliding, TopN}
import graft.sources.ReferenceData
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 17 jobs, runnable on the reference's OWN input files and
  * parameters — the "switch engines without changing anything else" layer.
  * Each function takes a DataFrame in the reference CSV/log schema
  * ([[graft.sources.ReferenceData]]) and applies the reference job's exact
  * window/threshold parameters. Each is a schema adapter: it maps the
  * reference's columns onto the kernel an oracle-checked query over
  * `events` runs ([[Sliding.slidingCounts]], [[EventWindows.hourly]], the
  * [[FraudDetect]] and [[OrderFlow]] kernels), so no window algebra here
  * escapes the oracle. [[txMatch]] keeps its own join: no registered batch
  * query is a tagged full-outer interval join.
  *
  * Reference parameter sources (paths under /root/reference/):
  *  - HotItems 1 h / 5 min top-3 `pv`      (H/HotItemsAnalysis/HotItems.scala:51-55,108)
  *  - NetworkFlow 10 min / 5 s top-5 URLs  (H/NetworkFlowAnalysis/NetworkFlow.scala:60,99)
  *  - PageView / UniqueVisitor hourly      (PageView.scala:38; UniqueVisitor.scala:40)
  *  - LoginFail: 2 consecutive fails ≤2 s  (H/LoginFailDetect/LoginFailTwo.scala:55-75)
  *  - OrderTimeout: pay within 15 min      (H/OrderTimeoutDetect/OrderTimeout.scala:64)
  *  - TxMatch: receipt ∈ [pay−3 s, pay+5 s] (OrderPayTxMatch.scala:86,100)
  *  - Blacklist: 100 clicks/(user,ad)/day  (H/MarketAnalysis/AdAnalysisByProvinceBlack.scala:60)
  */
object ReferenceJobs {

  private def ranked(counts: DataFrame, key: String, n: Int): DataFrame =
    TopN.rankWindowCounts(counts, key, n).orderBy(col("window_start"), col("rnk"))

  /** HotItems / HotItemsWithSql: top-N clicked items per 1 h / 5 min window. */
  def hotItems(userBehavior: DataFrame, n: Int = 3): DataFrame =
    ranked(Sliding.slidingCounts(userBehavior.filter(col("behavior") === "pv"),
      Seq(col("itemId").as("item_id")), 3600, 300), "item_id", n)

  /** HotItemsWithSql: the same ranking through the pure SQL surface
    * (the reference's second HotItems main drives Flink Table SQL;
    * here `spark.sql` over a temp view — identical plan space, so
    * results match [[hotItems]] exactly).
    */
  def hotItemsSql(spark: SparkSession, userBehavior: DataFrame, n: Int = 3): DataFrame = {
    userBehavior.createOrReplaceTempView("user_behavior")
    spark.sql(
      s"""WITH counts AS (
         |  SELECT unix_timestamp(window(ts, '1 hour', '5 minutes').start) AS window_start,
         |         itemId AS item_id, count(*) AS cnt
         |  FROM user_behavior WHERE behavior = 'pv'
         |  GROUP BY window(ts, '1 hour', '5 minutes'), itemId
         |), ranked AS (
         |  SELECT window_start, item_id, cnt,
         |         CAST(row_number() OVER (PARTITION BY window_start
         |           ORDER BY cnt DESC, item_id) AS BIGINT) AS rnk
         |  FROM counts
         |)
         |SELECT window_start, item_id, cnt, rnk FROM ranked
         |WHERE rnk <= $n ORDER BY window_start, rnk""".stripMargin)
  }

  /** NetworkFlow: top-N URLs per 10 min / 5 s window over apache.log. */
  def networkFlow(apacheLog: DataFrame, n: Int = 5): DataFrame =
    ranked(Sliding.slidingCounts(apacheLog.filter(col("method") === "GET"),
      Seq(col("url")), 600, 5), "url", n)

  private def hourlyPv(userBehavior: DataFrame, agg: Column): DataFrame =
    EventWindows.hourly(userBehavior.filter(col("behavior") === "pv"), agg)
      .orderBy("window_start")

  /** PageView: hourly pv count (constant key in the reference — here a
    * plain tumbling aggregate that scales out).
    */
  def pageView(userBehavior: DataFrame): DataFrame =
    hourlyPv(userBehavior, count(lit(1)).as("pv_count"))

  /** UniqueVisitor: hourly exact distinct users. */
  def uniqueVisitor(userBehavior: DataFrame): DataFrame =
    hourlyPv(userBehavior, countDistinct(col("userId")).as("uv_count"))

  /** UvWithBloomFilter / UvByBloomFilterWithoutRedis: hourly approximate
    * distinct users — HLL++ replaces the Redis-bitmap / Guava-Bloom
    * accumulator (designed for 1e8 users/hour, UvByBloomFilter…scala:20).
    */
  def uniqueVisitorApprox(userBehavior: DataFrame, rsd: Double = 0.02): DataFrame =
    hourlyPv(userBehavior, approx_count_distinct(col("userId"), rsd).as("uv_approx"))

  /** AdStatisticsByGeo: ad clicks per province, sliding 1 h / 5 s. */
  def adStatisticsByGeo(adClicks: DataFrame): DataFrame =
    Sliding.slidingCounts(adClicks, Seq(col("province")), 3600, 5)
      .orderBy("window_start", "province")

  /** AdAnalysisByProvinceBlack: clicks 1..threshold per (user, ad, day)
    * pass through; click threshold+1 emits a one-time blacklist warning;
    * later clicks are dropped. Day boundaries in event time.
    */
  def adBlacklist(adClicks: DataFrame, threshold: Long = 100): DataFrame =
    FraudDetect.dailyCap(adClicks.withColumn("day", C.epochSec(col("ts"), 86400)),
        Seq("userId", "adId", "day"), "province", threshold)
      .select(
        when(col("over"), lit("blacklist_warning")).otherwise(lit("click")).as("side"),
        col("userId"), col("adId"), col("province"), col("e").as("ts_sec"))

  /** LoginFailTwo / LoginFailWithCep: two consecutive fails within
    * `gapSec` (strict contiguity — an intervening success resets).
    */
  def loginFail(logins: DataFrame, gapSec: Long = 2): DataFrame =
    FraudDetect.consecutiveFails(logins, "userId", "ip", col("eventType") === "fail", gapSec)

  /** OrderTimeout / OrderTimeoutWithOutCep: each created order pays within
    * 15 min, pays late, or never pays. Reversed-cumulative-min lookup, one
    * shuffle on orderId (no self-join); within one second a create sorts
    * before a pay ("create" < "pay"), whatever order the rows arrive in.
    */
  def orderTimeout(orders: DataFrame, timeoutSec: Long = 900): DataFrame =
    OrderFlow.nextPay(orders, "orderId", "eventType", col("eventType") === "create",
        col("eventType") === "pay", timeoutSec)
      .drop("eventType")
      .orderBy(col("orderId"))

  /** OrderPayTxMatch / OrderPayTxMatchWithJoin: pay events ⋈ receipts on
    * txId with receipt.ts ∈ [pay.ts − 3 s, pay.ts + 5 s] (the reference's
    * two one-sided wait timers), unmatched sides tagged — the batch twin
    * of [[graft.streaming.StreamJobs.txMatchOuterStream]].
    */
  def txMatch(orders: DataFrame, receipts: DataFrame): DataFrame = {
    val pays = orders.filter(col("eventType") === "pay" && col("txId") =!= "")
      .select(col("orderId"), col("txId"), unix_timestamp(col("ts")).as("pay_e"))
    val rcpt = receipts
      .select(col("txId").as("r_txId"), col("payChannel"), unix_timestamp(col("ts")).as("r_e"))
    pays.join(rcpt,
        col("txId") === col("r_txId")
          && col("r_e") >= col("pay_e") - 3 && col("r_e") <= col("pay_e") + 5,
        "full_outer")
      .select(
        when(col("orderId").isNotNull && col("r_txId").isNotNull, lit("matched"))
          .when(col("r_txId").isNull, lit("unmatched_pay"))
          .otherwise(lit("unmatched_receipt")).as("side"),
        coalesce(col("txId"), col("r_txId")).as("tx_id"),
        col("orderId"), col("payChannel"), col("pay_e"), col("r_e"))
      .orderBy(col("side"), col("tx_id"))
  }

  /** Convenience: run every file-driven reference job on a resources dir
    * holding the reference's own CSV/log files.
    */
  def runAll(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val login = ReferenceData.readCsv(spark, s"$dir/LoginLog.csv", ReferenceData.loginSchema)
    val order = ReferenceData.readCsv(spark, s"$dir/OrderLog.csv", ReferenceData.orderSchema)
    val receipt = ReferenceData.readCsv(spark, s"$dir/ReceiptLog.csv", ReferenceData.receiptSchema)
    val adClick = ReferenceData.readCsv(spark, s"$dir/AdClickLog.csv", ReferenceData.adClickSchema)
    val apache = ReferenceData.parseApacheLog(spark.read.text(s"$dir/apache.log"))
    Map(
      "network_flow" -> networkFlow(apache),
      "ad_geo" -> adStatisticsByGeo(adClick),
      "ad_blacklist" -> adBlacklist(adClick),
      "login_fail" -> loginFail(login),
      "order_timeout" -> orderTimeout(order),
      "tx_match" -> txMatch(order, receipt))
  }
}
