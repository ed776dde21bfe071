package graft.ops

import graft.C
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-window top-N ranking — the Spark-native form of the reference's
  * ListState-buffer + event-time-timer + sort pattern:
  *
  *  - TopNHotItems(3)  (H/HotItemsAnalysis/HotItems.scala:108-167)
  *  - TopNHotUrls(5)   (H/NetworkFlowAnalysis/NetworkFlow.scala:99-155)
  *
  * The reference re-keys the pre-aggregated window output by windowEnd and
  * buffers every (item, count) row in per-key ListState until a timer fires
  * (HotItems.scala:120-166). In Spark the same thing is
  * `row_number() OVER (PARTITION BY window ORDER BY cnt DESC)` on top of the
  * sliding count ([[Sliding.slidingCounts]]): the rank shuffle moves only
  * the (window, key) counts, never raw events, and each window's ranking is
  * independent so the partition-by parallelizes across windows (no
  * single-task funnel).
  * Ties break on ascending id for cross-engine determinism.
  */
object TopN {

  /** Rank (window_start, key, cnt) rows — [[Sliding.slidingCounts]]'
    * output — and keep the top n per window. Public so streaming jobs can
    * rank finalized windows inside `foreachBatch`. Ties break on ascending
    * key (deterministic).
    */
  def rankWindowCounts(counts: DataFrame, key: String, n: Int): DataFrame =
    counts
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("window_start"))
          .orderBy(col("cnt").desc, col(key).asc)).cast("long"))
      .filter(col("rnk") <= n)

  private def topNByWindow(
      ev: DataFrame, key: String, sizeSec: Long, slideSec: Long, n: Int): DataFrame =
    rankWindowCounts(Sliding.slidingCounts(ev, Seq(col(key)), sizeSec, slideSec), key, n)
      .orderBy(col("window_start"), col("rnk"))

  /** Filtered (item_id, ts) projection feeding the hot-items window. */
  def hotItemEvents(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(C.propsK(col("props")).as("item_id"), col("ts"))

  /** Top-3 hot items per sliding 1 h / 15 min window; item := props.k,
    * pv filter := event_type = 'click' (HotItems.scala:51).
    */
  def hotItems(events: DataFrame): DataFrame =
    topNByWindow(hotItemEvents(events), "item_id", 3600, 900, 3)

  val hotItemsSql: String =
    s"""WITH ev AS (
       |  SELECT ${C.propsKSql} AS item_id, ${C.epochSecSql} AS e
       |  FROM events WHERE event_type = 'click'
       |), panes AS (
       |  SELECT item_id,
       |         unnest(generate_series((e // 900) * 900 - 2700, (e // 900) * 900, 900)) AS window_start
       |  FROM ev
       |), counts AS (
       |  SELECT window_start, item_id, count(*) AS cnt FROM panes GROUP BY 1, 2
       |), ranked AS (
       |  SELECT window_start, item_id, cnt,
       |         row_number() OVER (PARTITION BY window_start ORDER BY cnt DESC, item_id) AS rnk
       |  FROM counts
       |)
       |SELECT window_start, item_id, cnt, rnk FROM ranked WHERE rnk <= 3
       |ORDER BY window_start, rnk""".stripMargin

  /** Top-5 hot pages per sliding 6 h / 1 h window — the NetworkFlow URL
    * ranking (TopNHotUrls(5), NetworkFlow.scala:99-155). page := a derived
    * pseudo-URL `/{event_type}/{props.k % 500}` (≈2500 distinct values on
    * the testdata), so each window genuinely ranks among hundreds of keys
    * like the reference's apache.log URLs — `event_type` alone (5 values)
    * made top-N degenerate.
    */
  def hotPages(events: DataFrame): DataFrame =
    topNByWindow(
      events
        // no event_type → no URL to rank (the reference drops unparseable
        // log lines, NetworkFlow.scala:62); without this the NULL-absorbing
        // Spark concat would rank a NULL page while DuckDB's concat skips
        // NULLs and ranks '//k'
        .where(col("event_type").isNotNull)
        .select(
          concat(lit("/"), col("event_type"), lit("/"),
            (coalesce(C.propsK(col("props")), lit(-1L)) % 500).cast("string")).as("page"),
          col("ts")),
      "page", 21600, 3600, 5)

  val hotPagesSql: String =
    s"""WITH ev AS (
       |  SELECT concat('/', event_type, '/',
       |                CAST(COALESCE(${C.propsKSql}, -1) % 500 AS VARCHAR)) AS page,
       |         ${C.epochSecSql} AS e
       |  FROM events WHERE event_type IS NOT NULL
       |), panes AS (
       |  SELECT page,
       |         unnest(generate_series((e // 3600) * 3600 - 18000, (e // 3600) * 3600, 3600)) AS window_start
       |  FROM ev
       |), counts AS (
       |  SELECT window_start, page, count(*) AS cnt FROM panes GROUP BY 1, 2
       |), ranked AS (
       |  SELECT window_start, page, cnt,
       |         row_number() OVER (PARTITION BY window_start ORDER BY cnt DESC, page) AS rnk
       |  FROM counts
       |)
       |SELECT window_start, page, cnt, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY window_start, rnk""".stripMargin
}
