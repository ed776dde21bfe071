package graft.ops

import graft.C
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed count analytics over the `events` table — the Spark-native
  * re-expression of the reference's windowed-count jobs:
  *
  *  - hourly PV count            (H/NetworkFlowAnalysis/PageView.scala:27-43)
  *  - hourly exact UV            (H/NetworkFlowAnalysis/UniqueVisitor.scala:31-46)
  *  - hourly approx UV           (H/NetworkFlowAnalysis/UvWithBloomFilter.scala:39-58,
  *                                UvByBloomFilterWithoutRedis.scala:38-51)
  *  - installs per (channel, behavior), sliding window
  *                               (H/MarketAnalysis/AppMarketingByChannel.scala:85-95)
  *  - same without channel split (H/MarketAnalysis/AppMarketingStatistics.scala:40-49)
  *  - ad clicks per province, sliding window
  *                               (H/MarketAnalysis/AdStatisticsByGeo.scala:33-43)
  *
  * The reference funnels several of these through a single constant-key task
  * (e.g. PageView.scala:40 `keyBy(_._1)` on a literal). Here every tumbling
  * variant is a plain `groupBy(window(...), keys...)` aggregate, which Spark
  * executes as partial (map-side) + final aggregation — no single-task
  * funnel, so the same query scales out to arbitrarily many executors.
  *
  * Sliding windows go through [[Sliding.slidingCounts]]: a count per (keys,
  * slide-sized pane) before the first shuffle, then a running sum over each
  * active pane's entry and exit edges — no row is made per (event, window),
  * so the cost does not grow with the window/slide ratio. The reference's
  * 1 h/1 s slide (3600 panes, AppMarketingByChannel.scala:93) is
  * re-parameterized to slides that give non-trivial pane counts on the
  * month-long testdata (FIXTURES.md §B); `marketByChannelFine(events, 3600,
  * 1)` runs the true shape.
  */
object EventWindows {

  /** The one hourly tumbling aggregate: `(window_start, agg)` per 1 h
    * event-time window of `rows` holding `agg` (an aliased aggregate), a
    * NULL `ts` dropped. orderBy-free, so over a watermarked input the same
    * plan runs as a Structured Streaming append-mode aggregate
    * (graft.streaming.StreamJobs).
    */
  def hourly(rows: DataFrame, agg: Column): DataFrame = {
    val a = rows.groupBy(window(col("ts"), "1 hour").as("w")).agg(agg)
    a.select(unix_timestamp(col("w.start")).as("window_start"), col(a.columns(1)))
  }

  /** Hourly page views: tumbling 1 h count of `click` events. */
  def pvHourlyCore(events: DataFrame): DataFrame =
    hourly(events.filter(col("event_type") === "click"), count(lit(1)).as("pv_count"))

  def pvHourly(events: DataFrame): DataFrame =
    pvHourlyCore(events).orderBy("window_start")

  val pvHourlySql: String =
    """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
      |       count(*) AS pv_count
      |FROM events WHERE event_type = 'click' AND ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hourly unique visitors: tumbling 1 h exact distinct users. */
  def uvHourly(events: DataFrame): DataFrame =
    hourly(events, countDistinct(col("user_id")).as("uv_count")).orderBy("window_start")

  val uvHourlySql: String =
    // `ts IS NOT NULL` = the event-time contract: a timestamp-less row
    // cannot be window-assigned (Spark's window() drops it; Flink's
    // timestamp assigner would NPE on it) — every windowed oracle mirrors
    // the drop explicitly
    """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
      |       count(DISTINCT user_id) AS uv_count
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hourly approximate UV via HLL++ — the scale path the reference
    * approximates with Redis-bitmap / Guava Bloom filters. Raw estimate
    * form, orderBy-free: the streaming twin runs it over a watermarked
    * input, and the property tests compare it with the exact count.
    */
  def uvHourlyApproxRaw(events: DataFrame): DataFrame =
    hourly(events, approx_count_distinct(col("user_id"), 0.01).as("uv_approx"))

  /** [[uvHourlyApproxRaw]] graded against the exact distinct in the same
    * aggregate, so the driver's DuckDB gate verifies the estimator: the
    * output carries the exact count plus a 0/1 `within_bound` verdict
    * `|est − exact| ≤ max(4·rsd·exact, 4)` (four standard errors of the
    * requested relative standard deviation, with integer slack for the
    * sparse regime where HLL++ is exact). The oracle recomputes the exact
    * count and emits literal 1 — an estimate drifting out of its error
    * envelope breaks the hash. HLL++ union is set-semantic (order- and
    * partition-independent), so partial aggregation cannot move the
    * estimate. Reference semantics:
    * H/NetworkFlowAnalysis/UvByBloomFilterWithoutRedis.scala:58-79.
    */
  def uvHourlyApprox(events: DataFrame): DataFrame = {
    val rsd = 0.01
    // The two aggregates are SEPARATE single-agg plans joined on the
    // window, NOT one combined agg: mixing countDistinct with
    // approx_count_distinct makes Catalyst's distinct-rewrite carry the
    // HLL++ partial buffer — 1639 Long columns at rsd 0.01 — as
    // per-(window, user) row state through the distinct aggregate
    // (~125 GB of row width at the ×100 replica's 9.5 M distinct pairs;
    // measured 319–346 s solo vs 6 s for the exact sibling). Split, each
    // plan keeps its buffer per WINDOW only (720 × 1639 longs) and the
    // join moves 720 skinny rows. Values are unchanged — HLL++ union is
    // set-semantic, so estimating over raw events equals estimating over
    // any distinct form of them.
    hourly(events, countDistinct(col("user_id")).as("uv_exact"))
      .join(hourly(events, approx_count_distinct(col("user_id"), rsd).as("est")), "window_start")
      .select(col("window_start"), col("uv_exact"),
        when(abs(col("est") - col("uv_exact")).cast("double")
          <= greatest(col("uv_exact") * (4 * rsd), lit(4.0)), lit(1L))
          .otherwise(lit(0L)).as("within_bound"))
      .orderBy("window_start")
  }

  val uvHourlyApproxSql: String =
    """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
      |       count(DISTINCT user_id) AS uv_exact,
      |       CAST(1 AS BIGINT) AS within_bound
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hourly approximate UV via the Bloom-gated counter — the faithful port
    * of the reference's Bloom jobs (see [[graft.agg.BloomDistinct]]). Raw
    * estimate form for the property tests.
    */
  def uvHourlyBloomRaw(events: DataFrame): DataFrame =
    hourly(events, graft.agg.BloomDistinct.bloomDistinct(col("user_id")).as("uv_bloom"))
      .orderBy("window_start")

  /** [[uvHourlyBloomRaw]] graded for the driver's DuckDB gate. The
    * (window, user) stream is made distinct FIRST: each user then inserts
    * into the filter at most once globally, so `bloom ≤ exact` holds
    * STRUCTURALLY under any partial-buffer split — ObjectHashAggregate's
    * partial mode may emit several buffers per key (sort-based fallback
    * past its key threshold), and the summed merge of two buffers that
    * each saw the same user would otherwise overcount (observed live as a
    * flaky `within_bound = 0` at sf0.001: a 1-user window graded bloom=2).
    * The reference never hits this because its keyed stream is
    * parallelism-1 per key — a luxury a 1000-executor deployment doesn't
    * have; dedup-before-insert is the merge-safe equivalent (the gate
    * rejects re-inserts either way, reference semantics unchanged:
    * H/NetworkFlowAnalysis/UvByBloomFilterWithoutRedis.scala:58-79).
    * The repartition keeps the reference's one-buffer-per-window topology
    * as the COMMON case (tightest estimate); correctness no longer
    * depends on it.
    *
    * FILTER SIZING is the reference's own rule made adaptive: the
    * reference constructs Guava's `BloomFilter.create(funnel, n, p)` at a
    * FIXED design point (n = 1e8 expected insertions, p = 1 %,
    * UvByBloomFilterWithoutRedis.scala:60); here the design point is read
    * from the data — n = the max per-window exact distinct (one count over
    * the 720-row exact relation, the [[graft.pipeline.Knn]] adaptiveNlist
    * precedent) and m solves (1 − e^{−k·n/m})^k ≤ 1 % at the fixed k = 4:
    * m ≥ k·n / −ln(1 − 0.01^{1/4}) ≈ 10.52 bits per element, floored at
    * the 2^17 legacy size and rounded to a word. A FIXED m is the scale
    * killer the ×100 sweep caught: per-window cardinality grows with the
    * corpus, so any constant filter eventually leaves its design fp
    * regime and the estimate (and its envelope) degrades quadratically
    * in fill.
    *
    * Verdict: `exact − (3·exact·p + 8) ≤ bloom ≤ exact` with
    * p = (1 − e^{−k·n/m})^k the END-state-fill FP rate. Soundness (needs
    * the avalanche hash, see [[graft.agg.BloomDistinct]].bitIndex): the
    * i-th insert's FP probability is p(i−1) ≤ p(n), so the expected
    * undercount Σ p(i) is < n·p — the bound carries ≥ 3× the sequential-
    * fill expectation plus absolute slack for the sparse regime; the
    * upper bound is structural (dedup-before-insert). The oracle
    * recomputes the exact count and emits literal 1.
    */
  def uvHourlyBloom(events: DataFrame): DataFrame = {
    val k = 4
    // ts IS NOT NULL: the event-time contract (uvHourlySql). user_id IS NOT
    // NULL: `distinct + count(*)` would count a NULL visitor that
    // `count(DISTINCT user_id)` (the exact twin AND the oracle) skips — and
    // a NULL key must never reach the Bloom aggregator's hash
    val keyed = events
      .where(col("ts").isNotNull && col("user_id").isNotNull)
      .select(
        C.epochSec(col("ts"), 3600).as("window_start"),
        col("user_id")).distinct()
    val exact = keyed.groupBy("window_start")
      .agg(count(lit(1)).as("uv_exact"))
      .localCheckpoint(eager = true) // consumed by the sizing pass + the join
    val nMax = exact.agg(coalesce(max(col("uv_exact")), lit(1L))).head().getLong(0)
    // m = k·n / −ln(1 − p^{1/k}) at p = 1%, k = 4; word-aligned, floored
    // at the legacy 2^17, capped at 2^30 (128 MiB buffer — the aggregator
    // is one in-memory bitmap per window, the reference's own topology)
    val mBits = math.min(1L << 30,
      math.max(1L << 17, (math.ceil(k * nMax / 0.380098) / 64).toLong * 64 + 64))
    val bloom = keyed.repartition(col("window_start"))
      .groupBy("window_start")
      .agg(graft.agg.BloomDistinct.bloomDistinct(col("user_id"), mBits.toInt).as("uv_bloom"))
    val fpRate = pow(lit(1.0) - exp(col("uv_exact").cast("double") * (-k.toDouble / mBits)), k)
    exact.join(bloom, "window_start")
      .select(col("window_start"), col("uv_exact"),
        when(col("uv_bloom") <= col("uv_exact") &&
          col("uv_bloom").cast("double") >=
            col("uv_exact").cast("double") - (col("uv_exact") * fpRate * 3 + 8),
          lit(1L)).otherwise(lit(0L)).as("within_bound"))
      .orderBy("window_start")
  }

  val uvHourlyBloomSql: String =
    """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
      |       count(DISTINCT user_id) AS uv_exact,
      |       CAST(1 AS BIGINT) AS within_bound
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** (channel, behavior, ts) rows of the app-marketing counts:
    * channel := "ch" + (props.k % 6) — six synthetic channels mirroring the
    * reference's six app stores; behavior := event_type; UNINSTALL analog
    * (`error`) filtered out as in AppMarketingByChannel.scala:88.
    */
  def channelRows(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") =!= "error")
      .select(
        // coalesce: Spark concat is NULL-absorbing while DuckDB concat
        // skips NULLs — a null props.k must map to the same channel label
        // in both engines ("ch-1"), not NULL-vs-"ch"
        concat(lit("ch"), (coalesce(C.propsK(col("props")), lit(-1L)) % 6).cast("string"))
          .as("channel"),
        col("event_type").as("behavior"),
        col("ts"))

  /** App-marketing counts per (channel, behavior) over [[channelRows]],
    * sliding 1 h / 10 min by default.
    */
  def marketByChannelCore(events: DataFrame, sizeSec: Long = 3600,
      slideSec: Long = 600): DataFrame =
    Sliding.slidingCounts(channelRows(events), Seq(col("channel"), col("behavior")),
      sizeSec, slideSec)

  def marketByChannel(events: DataFrame): DataFrame =
    marketByChannelCore(events).orderBy("window_start", "channel", "behavior")

  val marketByChannelSql: String =
    s"""WITH ev AS (
       |  SELECT concat('ch', CAST(COALESCE(${C.propsKSql}, -1) % 6 AS VARCHAR)) AS channel,
       |         event_type AS behavior,
       |         ${C.epochSecSql} AS e
       |  FROM events WHERE event_type <> 'error'
       |), panes AS (
       |  SELECT channel, behavior,
       |         unnest(generate_series((e // 600) * 600 - 3000, (e // 600) * 600, 600)) AS window_start
       |  FROM ev
       |)
       |SELECT window_start, channel, behavior, count(*) AS cnt
       |FROM panes GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Fine-slide form of [[marketByChannelCore]] — sliding 1 h / 1 min
    * (60 panes per window; the reference runs 1 h / 1 s = 3600 panes,
    * AppMarketingByChannel.scala:93, which the same call runs with
    * `slideSec = 1`).
    */
  def marketByChannelFine(events: DataFrame, windowSec: Long = 3600,
      slideSec: Long = 60): DataFrame =
    marketByChannelCore(events, windowSec, slideSec).orderBy("window_start", "channel", "behavior")

  val marketByChannelFineSql: String =
    s"""WITH ev AS (
       |  SELECT concat('ch', CAST(COALESCE(${C.propsKSql}, -1) % 6 AS VARCHAR)) AS channel,
       |         event_type AS behavior,
       |         (${C.epochSecSql} // 60) * 60 AS pane
       |  FROM events WHERE event_type <> 'error'
       |), panes AS (
       |  SELECT channel, behavior, pane, count(*) AS c
       |  FROM ev GROUP BY 1, 2, 3
       |), dense AS (
       |  SELECT channel, behavior,
       |         unnest(generate_series(mn, mx + 3540, 60)) AS pane
       |  FROM (SELECT channel, behavior, min(pane) AS mn, max(pane) AS mx
       |        FROM panes GROUP BY 1, 2)
       |), s AS (
       |  SELECT d.channel, d.behavior, d.pane,
       |         sum(COALESCE(p.c, 0)) OVER (
       |           PARTITION BY d.channel, d.behavior ORDER BY d.pane
       |           RANGE BETWEEN 3540 PRECEDING AND CURRENT ROW) AS cnt
       |  FROM dense d LEFT JOIN panes p
       |    ON d.channel = p.channel AND d.behavior = p.behavior AND d.pane = p.pane
       |)
       |SELECT pane - 3540 AS window_start, channel, behavior,
       |       CAST(cnt AS BIGINT) AS cnt
       |FROM s WHERE cnt > 0 ORDER BY 1, 2, 3""".stripMargin

  /** Global app-marketing counts (no channel), sliding 1 h / 10 min. */
  def marketTotal(events: DataFrame): DataFrame =
    Sliding.slidingCounts(events.filter(col("event_type") =!= "error"), Nil, 3600, 600)
      .orderBy("window_start")

  val marketTotalSql: String =
    s"""WITH ev AS (
       |  SELECT ${C.epochSecSql} AS e FROM events WHERE event_type <> 'error'
       |), panes AS (
       |  SELECT unnest(generate_series((e // 600) * 600 - 3000, (e // 600) * 600, 600)) AS window_start
       |  FROM ev
       |)
       |SELECT window_start, count(*) AS cnt FROM panes GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-user sessionization via `session_window` (BASELINE.json north-star
    * approach; the reference has no session windows — SURVEY.md §2.5 gap).
    * Sessions close after `gapSec` of inactivity; output one row per
    * (user, session) with start, event count, and active duration.
    *
    * Timestamps are truncated to whole seconds *before* sessionizing so the
    * merge decision is identical to the oracle's integer arithmetic —
    * sub-second precision would make boundary sessions engine-dependent.
    * Boundary semantics (verified at sf0.1): an event exactly `gapSec`
    * after the previous one still EXTENDS the session; a new session needs
    * the gap strictly exceeded.
    */
  /** (user_id, tss): event time truncated to whole seconds — the column the
    * session window groups (and, in streaming, watermarks) on.
    */
  def sessionInput(events: DataFrame): DataFrame =
    events.select(col("user_id"), timestamp_seconds(unix_timestamp(col("ts"))).as("tss"))

  /** Session aggregation over a prepared [[sessionInput]] frame. */
  def sessionizeOnTss(prepared: DataFrame, gapSec: Long = 1800): DataFrame =
    prepared
      .groupBy(col("user_id"), session_window(col("tss"), s"$gapSec seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("session_start"),
        col("n_events"),
        (unix_timestamp(col("w.end")) - lit(gapSec) - unix_timestamp(col("w.start")))
          .as("dur_sec"))

  def sessionizeCore(events: DataFrame, gapSec: Long = 1800): DataFrame =
    sessionizeOnTss(sessionInput(events), gapSec)

  def sessionize(events: DataFrame): DataFrame =
    sessionizeCore(events).orderBy(col("user_id"), col("session_start"))

  val sessionizeSql: String =
    // ts IS NOT NULL = the event-time contract (see uvHourlySql): DuckDB's
    // NULLS-LAST lag would otherwise silently MERGE a timestamp-less row
    // into its user's final session while session_window drops it
    s"""WITH ev AS (
       |  SELECT user_id, event_id, ${C.epochSecSql} AS e FROM events
       |  WHERE ts IS NOT NULL
       |), seq AS (
       |  SELECT user_id, event_id, e,
       |         -- Spark merges at exactly gap distance (event <= last+gap
       |         -- extends the session), so a new session needs gap EXCEEDED
       |         CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)
       |), s AS (
       |  SELECT user_id, e,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY e, event_id
       |                          ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM seq
       |)
       |SELECT user_id, min(e) AS session_start, count(*) AS n_events,
       |       max(e) - min(e) AS dur_sec
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** Ad clicks per province, sliding 1 h / 20 min
    * (AdStatisticsByGeo.scala:33-43). province := nation of the clicking
    * user via customer→nation; both dims broadcast (25 / 150·sf rows) so the
    * only shuffle is the windowed aggregation itself.
    */
  def adClicksByProvinceCore(events: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    Sliding.slidingCounts(
      events
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
        .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
          col("user_id") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey")),
      Seq(col("n_name").as("province")), 3600, 1200)

  def adClicksByProvince(events: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    adClicksByProvinceCore(events, customer, nation).orderBy("window_start", "province")

  val adClicksByProvinceSql: String =
    s"""WITH ev AS (
       |  SELECT n_name AS province, ${C.epochSecSql} AS e
       |  FROM events
       |  JOIN customer ON user_id = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE event_type = 'click'
       |), panes AS (
       |  SELECT province,
       |         unnest(generate_series((e // 1200) * 1200 - 2400, (e // 1200) * 1200, 1200)) AS window_start
       |  FROM ev
       |)
       |SELECT window_start, province, count(*) AS cnt
       |FROM panes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Weekly cohort retention: users are cohorted by the epoch-week of
    * their FIRST activity; each later active week counts them at offset
    * (week − cohort), and retention is that count over the cohort's size
    * at offset 0 (which always exists — the first week is active by
    * definition). The standard product-analytics triangle. Output:
    * (cohort_week, week_offset, n_users, retention).
    *
    * Shape at 100 TB: one distinct over (user, week) — map-side combined,
    * the only corpus-scaled shuffle — then a per-user min agg and a
    * (cohorts × offsets)-sized count agg; the retention window runs over
    * that count-sized relation. Epoch-week integer arithmetic (`div`),
    * mirrored exactly by DuckDB `//`.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val wks = events
      .select(col("user_id"), expr("unix_timestamp(ts) div 604800").as("wk"))
      .distinct()
    val first = wks.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    wks.join(first, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("retention", col("n_users").cast("double") /
        max(when(col("week_offset") === 0, col("n_users")))
          .over(Window.partitionBy(col("cohort"))))
      .select(col("cohort").as("cohort_week"), col("week_offset"),
        col("n_users"), col("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionCohortsSql: String =
    s"""WITH wks AS (
       |  SELECT DISTINCT user_id, ${C.epochSecSql} // 604800 AS wk FROM events
       |), f AS (
       |  SELECT user_id, min(wk) AS cohort FROM wks GROUP BY user_id
       |), ro AS (
       |  SELECT f.cohort, w.wk - f.cohort AS week_offset,
       |         CAST(count(*) AS BIGINT) AS n_users
       |  FROM wks w JOIN f USING (user_id) GROUP BY 1, 2
       |)
       |SELECT CAST(cohort AS BIGINT) AS cohort_week,
       |       CAST(week_offset AS BIGINT) AS week_offset, n_users,
       |       CAST(n_users AS DOUBLE) /
       |         max(CASE WHEN week_offset = 0 THEN n_users END)
       |           OVER (PARTITION BY cohort) AS retention
       |FROM ro ORDER BY cohort_week, week_offset""".stripMargin

  /** Max gap between consecutive funnel steps ([[eventFunnel]]): 24 h. */
  private[graft] val FunnelGapSec = 86400L

  /** First-touch conversion funnel view → click → purchase: per user, the
    * first view anchors the funnel, the first click within
    * [[FunnelGapSec]] of it completes step 2, the first purchase within
    * the gap of THAT click completes step 3 (the strict-chaining variant
    * of ClickHouse's `windowFunnel`; first-touch anchoring keeps every
    * step a deterministic min, so the report is hash-checked). Output:
    * (step, step_name, n_users, rate) with rate = conversion from the
    * previous step.
    *
    * Shape at 100 TB: three filtered per-user min-aggs chained by
    * per-user equi-joins — each pass shuffles only (user, epoch-sec)
    * longs for one event type, and each join's right side is the
    * shrinking survivor set of the previous step (AQE broadcasts it as
    * soon as it fits). The 3-row step relation is driver-trivial.
    */
  def eventFunnel(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), C.epochSec(col("ts")).as("e"))
    val p1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("e")).as("t1"))
    val p2 = e.filter(col("event_type") === "click")
      .join(p1, "user_id")
      .filter(col("e") >= col("t1") && col("e") <= col("t1") + FunnelGapSec)
      .groupBy(col("user_id")).agg(min(col("e")).as("t2"))
    val p3 = e.filter(col("event_type") === "purchase")
      .join(p2, "user_id")
      .filter(col("e") >= col("t2") && col("e") <= col("t2") + FunnelGapSec)
      .groupBy(col("user_id")).agg(min(col("e")).as("t3"))
    val steps = p1.agg(count(lit(1)).as("n"))
      .select(lit(1L).as("step"), lit("view").as("step_name"), col("n"))
      .unionAll(p2.agg(count(lit(1)).as("n"))
        .select(lit(2L).as("step"), lit("click").as("step_name"), col("n")))
      .unionAll(p3.agg(count(lit(1)).as("n"))
        .select(lit(3L).as("step"), lit("purchase").as("step_name"), col("n")))
    steps
      .withColumn("rate", col("n").cast("double") /
        coalesce(lag(col("n"), 1).over(Window.orderBy(col("step"))), col("n")))
      .select(col("step"), col("step_name"), col("n").as("n_users"), col("rate"))
      .orderBy(col("step"))
  }

  val eventFunnelSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, ${C.epochSecSql} AS e FROM events
       |), p1 AS (
       |  SELECT user_id, min(e) AS t1 FROM e WHERE event_type = 'view'
       |  GROUP BY user_id
       |), p2 AS (
       |  SELECT e.user_id, min(e.e) AS t2 FROM e JOIN p1 USING (user_id)
       |  WHERE e.event_type = 'click' AND e.e >= p1.t1 AND e.e <= p1.t1 + $FunnelGapSec
       |  GROUP BY e.user_id
       |), p3 AS (
       |  SELECT e.user_id, min(e.e) AS t3 FROM e JOIN p2 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.e >= p2.t2 AND e.e <= p2.t2 + $FunnelGapSec
       |  GROUP BY e.user_id
       |), steps AS (
       |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
       |         CAST(count(*) AS BIGINT) AS n FROM p1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM p2
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM p3
       |)
       |SELECT step, step_name, n AS n_users,
       |       CAST(n AS DOUBLE) / coalesce(lag(n) OVER (ORDER BY step), n) AS rate
       |FROM steps ORDER BY step""".stripMargin

  // ---- Behavior transition matrix ----

  /** First-order behavior model: counts and probabilities of consecutive
    * event-type transitions per user stream (the Markov-chain view of user
    * journeys — "what follows a click?"). Pairs come from one `lag` window
    * per user ordered by (ts, event_id) — ties broken deterministically —
    * then a (types × types)-bounded count agg; `p_ppm` normalizes each row
    * by its `prev_type` total with integer division (exact, hash-checked).
    *
    * Shape at 100 TB: the user-keyed window is the only corpus-scaled
    * pass (co-partitioned by user, the natural key); everything after is
    * a ≤|types|² relation. Output: (prev_type, next_type, n, p_ppm).
    */
  def userPathTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .where(col("ts").isNotNull) // event-time contract: un-orderable rows form no pair
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val counts = pairs
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    counts.join(totals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("n * 1000000 div tot").as("p_ppm"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val userPathTransitionsSql: String =
    s"""WITH pairs AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS prev_type,
       |         event_type AS next_type
       |  FROM events WHERE ts IS NOT NULL
       |), counts AS (
       |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs WHERE prev_type IS NOT NULL
       |  GROUP BY prev_type, next_type
       |), totals AS (
       |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
       |  FROM counts GROUP BY prev_type
       |)
       |SELECT c.prev_type, c.next_type, c.n,
       |       CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_ppm
       |FROM counts c JOIN totals t USING (prev_type)
       |ORDER BY c.prev_type, c.next_type""".stripMargin

  // ---- Event-rate anomaly screen ----

  /** Trailing-window lookback (hours) for [[eventRateAnomaly]]. */
  private[graft] val AnomalyLookback = 24

  /** Hourly event-rate anomaly screen: an hour is a spike when its count
    * exceeds 2× the trailing-[[AnomalyLookback]]-hour mean — checked as
    * the integer cross-multiplication `n·24 > 2·Σtrailing` (no division,
    * no float, hash-exact), and only once a FULL lookback exists (the
    * first day cannot alarm). The ops-monitoring pass a pipeline runs
    * over its ingest telemetry; hours with zero events produce no row, so
    * the ROWS frame is over OBSERVED hours (both engines identically).
    *
    * Shape at 100 TB: the corpus aggregates once to the hourly histogram
    * (map-side combined); the trailing window runs over that
    * calendar-bounded relation — a year is 8 760 rows regardless of event
    * volume. Output: (hour_start, n, trail_n, is_spike).
    */
  def eventRateAnomaly(events: DataFrame): DataFrame = {
    // event-time contract: a NULL hour bucket would sort FIRST here and
    // LAST in DuckDB, shifting every trailing frame by one row
    val hourly = events.where(col("ts").isNotNull)
      .groupBy(expr("unix_timestamp(ts) div 3600 * 3600").as("hour_start"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("hour_start")).rowsBetween(-AnomalyLookback, -1)
    hourly
      .withColumn("trail_n", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("trail_hours", count(lit(1)).over(w))
      .select(col("hour_start"), col("n"), col("trail_n"),
        (col("trail_hours") === AnomalyLookback
          && col("n") * AnomalyLookback > col("trail_n") * 2).cast("long")
          .as("is_spike"))
      .orderBy(col("hour_start"))
  }

  val eventRateAnomalySql: String =
    s"""WITH hourly AS (
       |  SELECT ${C.epochSecSql} // 3600 * 3600 AS hour_start,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |)
       |SELECT hour_start, n,
       |       CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS trail_n,
       |       CAST(count(*) OVER w = $AnomalyLookback
       |            AND n * $AnomalyLookback > coalesce(sum(n) OVER w, 0) * 2
       |            AS BIGINT) AS is_spike
       |FROM hourly
       |WINDOW w AS (ORDER BY hour_start ROWS BETWEEN $AnomalyLookback PRECEDING AND 1 PRECEDING)
       |ORDER BY hour_start""".stripMargin

  // ---- RFM segmentation ----

  /** RFM customer segmentation (recency / frequency / monetary quintile
    * scores, the classic behavioral-cohort operator): per purchasing user,
    * days since last purchase (vs the corpus anchor = latest purchase),
    * purchase count, and exact monetary total in cents; each metric maps
    * to a 1–5 quintile score and the three digits concatenate into the
    * segment label ("555" = best).
    *
    * Quintile thresholds are exact order statistics computed on each
    * metric's HISTOGRAM, never by ranking users: recency is bounded by the
    * calendar (days), frequency by activity, and monetary is bucketed to
    * 10-currency-unit cells — so every threshold window runs over a
    * bounded relation regardless of user count (the
    * [[graft.pipeline.TextAnalysis.ccnetBuckets]] construction at five
    * cuts), and the per-user scoring is a map-only broadcast CASE. Scores
    * are `1 + #{thresholds strictly below}` (recency flipped so recent=5);
    * all arithmetic integral, so the result hash-checks.
    * Output: (user_id, recency_days, frequency, monetary, r_score,
    * f_score, m_score, segment).
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    val perUser = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(C.epochSec(col("ts"))).as("last_sec"),
        count(lit(1)).as("frequency"),
        (sum(C.dec(col("value"))) * 100).cast("long").as("mon_c"))
      .crossJoin(broadcast(
        events.filter(col("event_type") === "purchase")
          .agg(max(C.epochSec(col("ts"))).as("ref_sec"))))
      .select(col("user_id"),
        expr("(ref_sec - last_sec) div 86400").as("recency_days"),
        col("frequency"), col("mon_c"),
        expr("mon_c div 1000").as("mon_b"))
      .localCheckpoint(eager = true) // three histograms + scoring read it
    def quintiles(metric: String, prefix: String): DataFrame = {
      val hist = perUser.groupBy(col(metric)).agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col(metric))))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy()))
      val cuts = (1 to 4).map(i =>
        min(when(col("cum") * 5 >= col("tot") * i, col(metric)))
          .as(s"${prefix}$i"))
      cum.agg(cuts.head, cuts.tail: _*)
    }
    def score(metric: String, prefix: String) =
      lit(1L) + (1 to 4).map(i =>
        when(col(metric) > col(s"${prefix}$i"), 1L).otherwise(0L)).reduce(_ + _)
    perUser
      .crossJoin(broadcast(quintiles("recency_days", "rt")))
      .crossJoin(broadcast(quintiles("frequency", "ft")))
      .crossJoin(broadcast(quintiles("mon_b", "mt")))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        (col("mon_c").cast("double") / 100).as("monetary"),
        (lit(6L) - score("recency_days", "rt")).as("r_score"),
        score("frequency", "ft").as("f_score"),
        score("mon_b", "mt").as("m_score"))
      .withColumn("segment", concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy(col("user_id"))
  }

  val rfmSegmentsSql: String = {
    def quintileCte(name: String, metric: String, prefix: String) =
      s"""$name AS (
         |  SELECT ${(1 to 4).map(i =>
              s"min(CASE WHEN cum * 5 >= tot * $i THEN $metric END) AS ${prefix}$i")
              .mkString(", ")}
         |  FROM (SELECT $metric,
         |               sum(count(*)) OVER (ORDER BY $metric) AS cum,
         |               sum(count(*)) OVER () AS tot
         |        FROM per_user GROUP BY $metric)
         |)""".stripMargin
    def score(metric: String, prefix: String) =
      s"1 + ${(1 to 4).map(i => s"CASE WHEN $metric > ${prefix}$i THEN 1 ELSE 0 END").mkString(" + ")}"
    s"""WITH base AS (
       |  SELECT user_id, ${C.epochSecSql} AS sec,
       |         CAST(${C.nanNullSql("value")} AS DECIMAL(18,2)) AS v
       |  FROM events WHERE event_type = 'purchase'
       |), per_user AS (
       |  SELECT user_id,
       |         (SELECT max(sec) FROM base) - max(sec) AS rsec,
       |         ((SELECT max(sec) FROM base) - max(sec)) // 86400 AS recency_days,
       |         CAST(count(*) AS BIGINT) AS frequency,
       |         CAST(sum(v) * 100 AS BIGINT) AS mon_c,
       |         CAST(sum(v) * 100 AS BIGINT) // 1000 AS mon_b
       |  FROM base GROUP BY user_id
       |), ${quintileCte("rq", "recency_days", "rt")},
       |${quintileCte("fq", "frequency", "ft")},
       |${quintileCte("mq", "mon_b", "mt")}
       |SELECT p.user_id, CAST(p.recency_days AS BIGINT) AS recency_days,
       |       p.frequency,
       |       CAST(p.mon_c AS DOUBLE) / 100 AS monetary,
       |       CAST(6 - (${score("p.recency_days", "rt")}) AS BIGINT) AS r_score,
       |       CAST(${score("p.frequency", "ft")} AS BIGINT) AS f_score,
       |       CAST(${score("p.mon_b", "mt")} AS BIGINT) AS m_score,
       |       concat(6 - (${score("p.recency_days", "rt")}),
       |              ${score("p.frequency", "ft")},
       |              ${score("p.mon_b", "mt")}) AS segment
       |FROM per_user p, rq, fq, mq ORDER BY p.user_id""".stripMargin
  }
}
