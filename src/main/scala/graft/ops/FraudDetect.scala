package graft.ops

import graft.C
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch (oracle-checkable) forms of the reference's fraud/pattern
  * detections. The streaming forms (flatMapGroupsWithState machines) live in
  * [[graft.state]] and are asserted equal to these on the same data.
  *
  * Event mapping (FIXTURES.md §B): fail := event_type = 'error'; any other
  * event of the same user is a success that resets state.
  */
object FraudDetect {

  /** Consecutive login-failure pairs: two back-to-back `error` events of one
    * user within `gapSec`, no other event between them. This is the shared
    * semantics of LoginFailTwo (H/LoginFailDetect/LoginFailTwo.scala:60-91,
    * pairwise compare) and the CEP `fail next fail within(2s)` strict
    * contiguity pattern (LoginFailWithCep.scala:56-60) — `lag` over the full
    * per-user sequence enforces strict contiguity exactly.
    * Reference gap 2 s re-parameterized to 3600 s for the testdata density.
    */
  def loginFailConsecutive(events: DataFrame, gapSec: Long = 3600): DataFrame =
    consecutiveFails(events, "user_id", "event_id", col("event_type") === "error", gapSec)

  /** The consecutive-fail kernel: per `key`, in (ts, `tie`) order, each
    * fail whose immediately preceding event is a fail at most `gapSec`
    * earlier, as `(key, first_fail, second_fail)` epoch seconds ordered by
    * key and second fail. `lag` over the full per-key sequence is strict
    * contiguity: any other event between two fails breaks the pair. The
    * order is the full-precision `ts`; epoch seconds only measure the gap.
    */
  def consecutiveFails(rows: DataFrame, key: String, tie: String, isFail: Column,
      gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col(tie))
    rows
      .select(col(key), col(tie), col("ts"), isFail.as("is_fail"), C.epochSec(col("ts")).as("e"))
      .withColumn("prev_fail", lag(col("is_fail"), 1).over(w))
      .withColumn("prev_e", lag(col("e"), 1).over(w))
      .filter(col("is_fail") && col("prev_fail") && col("e") - col("prev_e") <= gapSec)
      .select(col(key), col("prev_e").as("first_fail"), col("e").as("second_fail"))
      .orderBy(col(key), col("second_fail"))
  }

  val loginFailConsecutiveSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type, ${C.epochSecSql} AS e,
       |         lag(event_type) OVER w AS prev_type,
       |         lag(${C.epochSecSql}) OVER w AS prev_e
       |  FROM events
       |  -- CAST(ts AS TIMESTAMP) truncates nanos to the micros Spark
       |  -- ordered by, so same-microsecond events tie-break on event_id
       |  -- identically in both engines
       |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
       |)
       |SELECT user_id, prev_e AS first_fail, e AS second_fail
       |FROM seq
       |WHERE event_type = 'error' AND prev_type = 'error' AND e - prev_e <= 3600
       |ORDER BY user_id, second_fail""".stripMargin

  /** LoginFailOne semantics (H/LoginFailDetect/LoginFailOne.scala:62-106):
    * from the first failure of an uninterrupted failure run, if >= 2
    * failures land within `spanSec` of that first failure, emit one warning
    * carrying (firstFail, lastFail-within-span, count). A success clears the
    * buffer (run boundary).
    */
  def loginFailBurst(events: DataFrame, spanSec: Long = 3600): DataFrame = {
    val seqW = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), C.epochSec(col("ts")).as("e"))
      .withColumn("run_id",
        sum(when(col("event_type") =!= "error", 1).otherwise(0)).over(seqW))
      .filter(col("event_type") === "error")
    val withFirst = runs.withColumn("first_e",
      min(col("e")).over(Window.partitionBy(col("user_id"), col("run_id"))))
    withFirst
      .filter(col("e") <= col("first_e") + spanSec)
      .groupBy(col("user_id"), col("run_id"), col("first_e"))
      .agg(max(col("e")).as("last_fail"), count(lit(1)).as("n_fails"))
      .filter(col("n_fails") >= 2)
      .select(col("user_id"), col("first_e").as("first_fail"), col("last_fail"), col("n_fails"))
      .orderBy(col("user_id"), col("first_fail"), col("last_fail"))
  }

  val loginFailBurstSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type, ${C.epochSecSql} AS e,
       |         sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS run_id
       |  FROM events
       |), fails AS (
       |  SELECT user_id, run_id, e,
       |         min(e) OVER (PARTITION BY user_id, run_id) AS first_e
       |  FROM seq WHERE event_type = 'error'
       |)
       |SELECT user_id, first_e AS first_fail, max(e) AS last_fail, count(*) AS n_fails
       |FROM fails WHERE e <= first_e + 3600
       |GROUP BY user_id, run_id, first_e
       |HAVING count(*) >= 2
       |ORDER BY user_id, first_fail, last_fail""".stripMargin

  /** Click-fraud blacklist (H/MarketAnalysis/AdAnalysisByProvinceBlack
    * .scala:69-109): per (user, ad, day) running click count; clicks with
    * running count <= threshold pass through, the first click beyond it
    * yields one warning row. Day boundary is event-time UTC midnight (the
    * reference uses a processing-time midnight timer — documented deviation,
    * SURVEY.md §7.4). ad := props.k % 3; threshold re-scaled to the testdata
    * density (reference: 100).
    *
    * Emits a single tagged output (`side` ∈ pass|warn) — the discriminator-
    * column convention replacing Flink side outputs (SURVEY.md §2.9).
    */
  def adBlacklist(events: DataFrame, threshold: Long = 2): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"),
        (C.propsK(col("props")) % 3).as("ad_id"),
        C.epochSec(col("ts"), 86400).as("day"))
    dailyCap(clicks, Seq("user_id", "ad_id", "day"), "event_id", threshold)
      .select(
        when(col("over"), lit("warn")).otherwise(lit("pass")).as("side"),
        col("user_id"), col("ad_id"), col("day"), col("e").as("click_ts"))
      .orderBy(col("user_id"), col("ad_id"), col("day"), col("click_ts"), col("side"))
  }

  /** The daily-cap kernel: numbers the rows of each `keys` partition (the
    * caller's day column among them) in (ts, `tie`) order and keeps the
    * first `threshold + 1`, as `(keys…, tie, e, over)` with `e` the epoch
    * second and `over` true on the one row past the cap.
    */
  def dailyCap(rows: DataFrame, keys: Seq[String], tie: String, threshold: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("ts"), col(tie))
    rows
      .select(keys.map(col) :+ col(tie) :+ col("ts") :+ C.epochSec(col("ts")).as("e"): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= threshold + 1)
      .select(keys.map(col) :+ col(tie) :+ col("e") :+ (col("rn") > threshold).as("over"): _*)
  }

  val adBlacklistSql: String =
    s"""WITH clicks AS (
       |  SELECT user_id, event_id, ${C.propsKSql} % 3 AS ad_id,
       |         ${C.epochSecSql} AS e, ts,
       |         CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day
       |  FROM events WHERE event_type = 'click'
       |), numbered AS (
       |  SELECT user_id, ad_id, day, e,
       |         row_number() OVER (PARTITION BY user_id, ad_id, day
       |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM clicks
       |)
       |SELECT CASE WHEN rn <= 2 THEN 'pass' ELSE 'warn' END AS side,
       |       user_id, ad_id, day, e AS click_ts
       |FROM numbered WHERE rn <= 3
       |ORDER BY user_id, ad_id, day, click_ts, side""".stripMargin
}
