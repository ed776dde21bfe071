package graft.streaming

import graft.model._
import graft.ops.EventWindows
import graft.state.Machines
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the analytics. Each shares its core
  * expressions with the batch form (the oracle-checked ground truth);
  * `StreamingParitySpec` asserts batch ≡ streaming on the same data —
  * the reference's implicit claim that file replay models a live stream
  * (SURVEY.md §5.3).
  *
  * Watermarks: the reference uses ascending-timestamp watermarks or a
  * small bounded-out-of-orderness slack (SURVEY.md §2.10); `delay`
  * parameterizes the same slack here. Append output mode reproduces the
  * "emit once the watermark passes the window" finalization that the
  * reference builds by hand with windowEnd timers (SURVEY.md §2.7).
  */
object StreamJobs {

  /** Hourly PV over a stream (PageView job). */
  def pvHourlyStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    EventWindows.pvHourlyCore(events.withWatermark("ts", delay))

  /** Per-(channel, behavior) sliding counts over a stream (AppMarketing). */
  def marketByChannelStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    EventWindows.marketByChannelCore(events.withWatermark("ts", delay))

  /** Fine-slide (1 h / 1 min) sliding counts over a stream: the
    * [[EventWindows.marketByChannelFine]] core over a watermarked input.
    */
  def marketByChannelFineStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    EventWindows.marketByChannelCore(events.withWatermark("ts", delay), 3600, 60)

  /** Hourly exact UV over a stream (UniqueVisitor): streaming-safe exact
    * distinct = per-window dropDuplicates (state: one row per (window,
    * user)) then count — `countDistinct` is not allowed in streaming aggs.
    */
  def uvHourlyStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", delay)
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("uv_count"))
      .select(unix_timestamp(col("w.start")).as("window_start"), col("uv_count"))

  /** Hourly approximate UV over a stream (UvWithBloomFilter semantics):
    * sub-linear state per window via HLL++ instead of Redis bitmap — the
    * [[EventWindows.uvHourlyApproxRaw]] core over a watermarked input.
    */
  def uvHourlyApproxStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    EventWindows.uvHourlyApproxRaw(events.withWatermark("ts", delay))

  /** Ad clicks per province over a stream (AdStatisticsByGeo) — a
    * stream-static join: the streaming events join the static broadcast
    * dimension tables before the windowed aggregation, exactly the batch
    * core with a watermark.
    */
  def adClicksByProvinceStream(
      events: DataFrame, customer: DataFrame, nation: DataFrame,
      delay: String = "1 minute"): DataFrame =
    EventWindows.adClicksByProvinceCore(events.withWatermark("ts", delay), customer, nation)

  /** Continuously-updated hourly UV (UvWithBloomFilter's per-record
    * FIRE_AND_PURGE trigger, SURVEY.md §2.5): the same windowed approx
    * aggregate run in **update** output mode emits the running count of
    * every touched window each micro-batch — Structured Streaming's
    * state store replaces the reference's custom Trigger + Redis bitmap.
    * Run with `.outputMode("update")`.
    */
  def uvHourlyRunningStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    uvHourlyApproxStream(events, delay)

  /** Consecutive login-failure warnings over a stream (LoginFail 1/2/CEP). */
  def loginFailStream(events: Dataset[Event], gapSec: Long = 3600): Dataset[LoginWarning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.loginFailFn(gapSec))
  }

  /** Conversion-funnel progression over a stream — the streaming twin of
    * [[graft.ops.EventWindows.eventFunnel]]: per-user O(1) state
    * ([[graft.model.FunnelState]]), one [[graft.model.FunnelAdvance]] row
    * the moment a step completes. The batch form's per-step cohort counts
    * are `count(distinct user) where step >= k` over this output —
    * parity-tested.
    */
  def eventFunnelStream(events: Dataset[Event],
      gapSec: Long = EventWindows.FunnelGapSec): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.funnelFn(gapSec))
  }

  /** Winnowing fingerprints on a live document stream — the
    * [[graft.pipeline.TextAnalysis.docWinnowCore]] per-row array
    * expressions run unchanged (no state, no shuffle); parity-tested.
    */
  def docWinnowStream(documents: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.docWinnowCore(documents)

  /** The Gopher hard-filter battery as an ingest-time stream gate — its
    * production form: per-row integer verdicts, stateless; parity-tested.
    */
  def gopherRulesStream(documents: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.gopherRulesCore(documents)

  /** Live ingest-mixture monitor — the streaming half of
    * [[graft.pipeline.Curation.mixtureTemperature]]: per event-time
    * window, per source, ONE watermarked count (partial-agg before the
    * exchange; state is O(windows × sources)). The temperature math needs
    * cross-source totals — a second aggregation level Structured Streaming
    * forbids in one append plan — so, like the retention twin's resolve
    * step, the share computation is the documented consumer contract:
    * feed a CLOSED window's rows to
    * [[graft.pipeline.Curation.temperatureShares]] (the verbatim batch
    * math; parity-tested in StreamingParitySpec).
    */
  def mixtureCountsStream(documents: DataFrame, delay: String = "1 minute"): DataFrame =
    documents.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"),
        coalesce(col("source"), lit("")).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("window.start").cast("long").as("window_start"),
        col("source"), col("n_docs"))

  /** HTML → cleaned text on a page stream — the crawl-ingest form of
    * [[graft.pipeline.TextAnalysis.htmlExtract]]. The core is map-only
    * expression code (no shuffle, no state), so the identical plan runs
    * per-micro-batch in append mode; parity with the batch extraction is
    * asserted in `StreamingParitySpec`.
    */
  def htmlExtractStream(pages: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.htmlExtractCore(pages)

  /** URL canonicalization on a crawl-frontier stream — the ingest form of
    * [[graft.pipeline.Web.urlCanonicalize]]. Map-only expression code (no
    * shuffle, no state) runs identically per micro-batch in append mode;
    * parity with the batch form is asserted in `StreamingParitySpec`.
    * (Canonical-URL DEDUP on a stream is `dropDuplicates("canon_url")`
    * under a watermark — Spark's built-in keyed state — so only the
    * canonicalization core needs a twin here.)
    */
  def urlCanonicalizeStream(urls: DataFrame): DataFrame =
    graft.pipeline.Web.urlCanonicalizeCore(urls)

  /** Generic strict-contiguity CEP over a stream — the streaming twin of
    * [[graft.ops.Cep.nextPattern]]; `StreamingParitySpec` asserts equality
    * with the batch form on replayed data.
    */
  /** Live weekly-cohort retention credits — streaming twin of
    * [[graft.ops.EventWindows.retentionCohorts]]. NOT a plain-countable
    * append stream: a late event re-bases a user's cohort and re-emits the
    * corrected credits, so the stream is an upsert keyed
    * (user, activity week = cohort + offset). Reduce with
    * [[resolveRetentionCredits]] (min cohort wins — a re-base only ever
    * lowers the cohort) before counting the (cohort, offset) triangle;
    * counting the raw stream double-counts every re-based user. State per
    * user is calendar-bounded (cohort + credited weeks). In-order and
    * out-of-order parity vs the batch twin in `StreamingParitySpec`.
    */
  def retentionCohortsStream(events: Dataset[Event]): Dataset[CohortHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.retentionFn)
  }

  /** Resolve [[retentionCohortsStream]]'s upsert credit stream to its final
    * credits: per (user, activity week = cohort + offset) keep the emission
    * with the MINIMAL cohort — re-base only ever lowers the cohort, so the
    * min-cohort row is exactly the superseding (latest) one, computable
    * from the rows alone with no emission-order column. One hash
    * aggregation keyed (user, activity_week): partial-agg map-side, scales
    * linearly, no window/sort. Apply per materialized view (foreachBatch
    * sink or on the collected table) and THEN count the triangle.
    */
  def resolveRetentionCredits(hits: Dataset[CohortHit]): Dataset[CohortHit] = {
    import hits.sparkSession.implicits._
    hits
      .groupByKey(h => (h.user_id, h.cohort_week + h.week_offset))
      .reduceGroups((a, b) => if (a.cohort_week <= b.cohort_week) a else b)
      .map(_._2)
  }

  /** Live journey transitions — streaming twin of
    * [[graft.ops.EventWindows.userPathTransitions]]; the types² matrix is
    * the count over this append stream. State per user is the last event
    * only (O(1)).
    */
  def userPathTransitionsStream(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.pathTransitionFn)
  }

  /** Live SCD2 history — streaming twin of
    * [[graft.ops.History.scd2Intervals]] restricted to CLOSED intervals
    * (`is_current = 0`): the interval row is emitted at the state change
    * that closes it; the open run is O(1) keyed state. Parity-tested in
    * `StreamingParitySpec`.
    */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.scd2Fn)
  }

  /** Live trailing 1 d/7 d feature rows — streaming twin of
    * [[graft.ops.History.rollingUserFeatures]]; one feature row per event,
    * state bounded by the user's 7-day horizon. Parity-tested in
    * `StreamingParitySpec`.
    */
  def rollingFeaturesStream(events: Dataset[Spend]): Dataset[RollingRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.rollingFn())
  }

  /** Live Flink-CEP followedBy-each matches — streaming twin of
    * [[graft.ops.Cep.signupThenPurchaseEach]] (`cep_signup_purchase_multi`);
    * parity-tested in `StreamingParitySpec`. State drains at every
    * purchase — see [[Machines.signupPurchaseEachFn]].
    */
  def signupPurchaseEachStream(events: Dataset[Event],
      withinSec: Long = 7200): Dataset[CepPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.signupPurchaseEachFn(withinSec))
  }

  /** Live absence alerts — streaming twin of
    * [[graft.ops.Cep.abandonedSignup]] (`cep_abandoned_signup`): the alert
    * fires as soon as a purchase proves a pending signup missed its
    * deadline; signups the replay never answers are flushed with
    * [[Machines.abandonedFlush]] (in production: event-time timeout at
    * the watermark). Parity-tested in `StreamingParitySpec`.
    */
  def abandonedSignupStream(events: Dataset[Event],
      withinSec: Long = 7200): Dataset[CepTimeout] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.abandonedSignupFn(withinSec))
  }

  def cepNextStream(events: Dataset[Event], preds: Seq[Event => Boolean],
      withinSec: Long): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.cepNextFn(preds, withinSec))
  }

  /** Generic relaxed-contiguity CEP over a stream — the streaming twin of
    * [[graft.ops.Cep.followedBy]] (latest-preceding-a semantics).
    */
  def cepFollowedByStream(events: Dataset[Event], predA: Event => Boolean,
      predB: Event => Boolean, withinSec: Long): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.cepFollowedByFn(predA, predB, withinSec))
  }

  /** Hot-items windowed counts over a stream (HotItems stage 1): append
    * mode emits each (window, item) count exactly once, when the watermark
    * passes the window end — the finalization the reference hand-builds
    * with a windowEnd+100ms timer (HotItems.scala:124). Rank each
    * micro-batch with [[graft.ops.TopN.rankWindowCounts]] in `foreachBatch`
    * (per-window top-N needs a rank over the finalized window, which
    * streaming append can't sort globally).
    */
  def hotItemCountsStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    graft.ops.Sliding.slidingCounts(
      graft.ops.TopN.hotItemEvents(events).withWatermark("ts", delay),
      Seq(col("item_id")), 3600, 900)

  /** Burst login-failure warnings over a stream (LoginFailOne semantics)
    * with event-time timers — input must carry a watermark on `ts`.
    */
  def loginBurstStream(events: Dataset[Event], spanSec: Long = 3600,
      delay: String = "1 minute"): Dataset[BurstWarning] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        Machines.loginBurstFn(spanSec))
  }

  /** Last-touch purchase attribution over a stream — the streaming twin of
    * the batch as-of join ([[graft.ops.AsOf.purchaseAttribution]]). The
    * batch form carries the latest click forward with a per-key window
    * `last(_, ignoreNulls)`; here that carried column IS the GroupState,
    * so the machine emits each purchase the moment it arrives with O(1)
    * state per user — no join, no buffering of the click history.
    */
  def purchaseAttributionStream(events: Dataset[Event]): Dataset[AttributionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.lastTouchFn)
  }

  /** Create→pay matching over a stream (OrderTimeout). Unpaid orders are
    * flushed as "order timeout" by the caller at end-of-stream via
    * [[Machines.orderFlush]] (finite-replay parity with the batch form).
    */
  def orderTimeoutStream(events: Dataset[Event], timeoutSec: Long = 3600): Dataset[OrderResult] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.orderTimeoutFn(timeoutSec))
  }

  /** Per-(user, ad) daily click limiter over a stream (AdBlacklist).
    * Input rows carry the ad id alongside the event (the caller extracts it
    * from whatever column models the ad).
    */
  def blacklistStream(events: Dataset[(Event, Long)], threshold: Long = 2): Dataset[BlacklistRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey { case (e, ad) => (e.user_id, ad) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        Machines.blacklistFn(threshold))
  }

  /** Per-user sessionization over a stream — `session_window` with a
    * watermark; sessions emit once the watermark passes their close.
    */
  def sessionizeStream(events: DataFrame, gapSec: Long = 1800, delay: String = "1 minute"): DataFrame =
    EventWindows.sessionizeOnTss(
      EventWindows.sessionInput(events).withWatermark("tss", delay), gapSec)

  /** Synthetic marketing-behavior stream — the Spark-native form of the
    * reference's RichParallelSourceFunction generator
    * (H/MarketAnalysis/AppMarketingByChannel.scala:34-75: random user /
    * behavior ∈ 4 / channel ∈ 6, ~100k events/s nominal). The rate source
    * scales emission across partitions instead of one thread with a 10 µs
    * sleep; fields derive deterministically from the rate counter.
    */
  def syntheticMarketingSource(
      spark: org.apache.spark.sql.SparkSession, rowsPerSecond: Int = 1000): DataFrame = {
    val behaviors = array(lit("BROWSE"), lit("CLICK"), lit("PURCHASE"), lit("UNINSTALL"))
    val channels = array(lit("AppStore"), lit("XiaomiStore"), lit("HuaweiStore"),
      lit("weibo"), lit("wechat"), lit("tieba"))
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        sha1(col("value").cast("string")).as("userId"),
        element_at(behaviors, (col("value") % 4 + 1).cast("int")).as("behavior"),
        element_at(channels, (col("value") % 6 + 1).cast("int")).as("channel"),
        col("timestamp").as("ts"))
  }

  /** Stream-stream event-time interval join (OrderPayTxMatchWithJoin):
    * creates ⋈ pays on user with pay.ts ∈ [create.ts, create.ts + timeout]
    * — the `matched` rows of [[txMatchOuterStream]]. Both sides present
    * null-rejects each side, so Catalyst plans the inner interval join;
    * Spark bounds its state from the interval condition exactly like
    * Flink's intervalJoin (SURVEY.md §2.8).
    */
  def txMatchStream(
      creates: DataFrame, pays: DataFrame,
      timeoutSec: Long = 3600, delay: String = "1 minute"): DataFrame =
    txMatchOuterStream(creates, pays, timeoutSec, delay)
      .where(col("create_ts").isNotNull && col("pay_ts").isNotNull)
      .select(col("order_id"), col("user_id"), col("create_ts"), col("pay_ts"))

  /** Stream-stream FULL-OUTER interval join — the complete form of the
    * reference's connect + CoProcessFunction pay↔receipt matcher
    * (H/OrderTimeoutDetect/OrderPayTxMatch.scala:71-126): matched pairs
    * emit inline; a side that never finds its partner inside the interval
    * emits null-padded once the watermark passes its wait bound — Spark's
    * state eviction standing in for the reference's per-key timers and
    * `unmatched-pays` / `unmatched-receipts` side outputs (110-125).
    *
    * `side` discriminates the union exactly like the batch
    * [[graft.ops.OrderFlow.txUnmatched]] tagged union:
    * 'matched' | 'unmatched_create' | 'unmatched_pay'.
    */
  def txMatchOuterStream(
      creates: DataFrame, pays: DataFrame,
      timeoutSec: Long = 3600, delay: String = "1 minute"): DataFrame = {
    val c = creates
      .select(col("event_id").as("order_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    val p = pays
      .select(col("event_id").as("pay_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", delay)
    c.join(p,
      expr(s"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval $timeoutSec seconds"),
      "fullOuter")
      .select(
        when(col("c_ts").isNotNull && col("p_ts").isNotNull, lit("matched"))
          .when(col("p_ts").isNull, lit("unmatched_create"))
          .otherwise(lit("unmatched_pay")).as("side"),
        col("order_id"), col("pay_id"),
        coalesce(col("c_user"), col("p_user")).as("user_id"),
        unix_timestamp(col("c_ts")).as("create_ts"),
        unix_timestamp(col("p_ts")).as("pay_ts"))
  }

  /** HotItems as a runnable end-to-end service (the reference's full
    * HotItems.scala:36-60 dataflow, source → windowed count → per-window
    * top-N → sink): append-mode windowed counts finalize when the
    * watermark passes each window; each micro-batch then carries complete
    * windows only, so the per-batch rank is the exact per-window top-N.
    * `sink` receives the ranked rows of each batch (e.g. print/console,
    * a Delta/parquet append, or a KV upsert at a real deployment).
    */
  def hotItemsTopNJob(events: DataFrame, n: Int = 3, delay: String = "1 minute")(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    hotItemCountsStream(events, delay)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(graft.ops.TopN.rankWindowCounts(batch.toDF(), "item_id", n))
      }
      .start()

  /** Streaming exact dedup — the training-data pipeline's keep-first
    * semantics on a live stream: the first document per content hash
    * passes, duplicates arriving within the watermark horizon are
    * dropped, and per-hash state is evicted once the watermark passes
    * (so state is bounded by the horizon's distinct-hash count, not by
    * history — the unbounded-history form is the batch
    * [[graft.pipeline.Dedup.dedupExact]] keep-list).
    */
  def dedupExactStream(documents: DataFrame, delay: String = "1 minute"): DataFrame =
    documents
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_hash")

  /** PII scrubbing on a live document stream — the stateless
    * [[graft.pipeline.TextAnalysis.piiRedactCore]] expressions run
    * unchanged under Structured Streaming (no state, no sort, no
    * watermark needed); parity-tested against the batch form.
    */
  def piiRedactStream(documents: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.piiRedactCore(documents)

  /** Stratified sampling on a live document stream — deterministic
    * hash-cut filters are stateless, so the batch core runs as-is and the
    * stream selects exactly the subcorpus the batch run would.
    */
  def sampleStratifiedStream(documents: DataFrame): DataFrame =
    graft.pipeline.Curation.sampleStratifiedCore(documents)

  /** Repetition filtering on a live document stream — per-row expressions,
    * stateless; parity-tested against the batch form.
    */
  def docRepetitionStream(documents: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.docRepetitionCore(documents)

  /** Training-sample chunking on a live document stream — the explode is
    * per-row and stateless, so the batch core runs as-is; parity-tested.
    */
  def docChunksStream(documents: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.docChunksCore(documents)

  /** LM quality scoring on a live document stream against a static
    * pre-trained surprisal model — the production shape of the
    * perplexity-filter family: the model
    * ([[graft.pipeline.TextAnalysis.lmSurprisalModel]]) is trained
    * offline, the firehose is scored online. The bigram explode is
    * per-row; the model join is stream-static (broadcastable — the model
    * is Heaps-bounded); the per-doc re-aggregation is watermark-finalized
    * in append mode with the event-time column in the grouping key, so
    * state is bounded by in-flight documents, not history. Out-of-model
    * bigrams drop at the inner join (an offline model shipped for a
    * different corpus would carry an UNK row instead).
    */
  def docLmScoreStream(
      documents: DataFrame, model: DataFrame, delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.TextAnalysis
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        explode(TextAnalysis.bigramArray(col("text"))).as("bg"))
      .select(col("doc_id"), col("ts"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(model, Seq("w1", "w2"))
      .groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"), sum(col("s_fp")).as("nll_fp"))
      .withColumn("keep",
        (col("nll_fp") <= col("n_bigrams") * TextAnalysis.LmKeepFp).cast("long"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_fp"), col("keep"))
  }

  /** Collocational-strength scoring on a live document stream against a
    * static PMI model ([[graft.pipeline.TextAnalysis.pmiModel]] fit
    * offline) — same stream-static broadcast-join + watermark-finalized
    * per-doc aggregation shape as [[docLmScoreStream]]; out-of-model
    * bigrams drop at the inner join. Parity-tested against
    * [[graft.pipeline.TextAnalysis.docPmiScore]].
    */
  def docPmiScoreStream(
      documents: DataFrame, model: DataFrame, delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.TextAnalysis
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        explode(TextAnalysis.bigramArray(col("text"))).as("bg"))
      .select(col("doc_id"), col("ts"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(model.select(col("w1"), col("w2"), col("pmi_fp")), Seq("w1", "w2"))
      .groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("pmi_fp")).as("pmi_sum_fp"))
      .select(col("doc_id"), col("n_bigrams"), col("pmi_sum_fp"))
  }

  /** IVF index ingestion on a live embedding stream: nearest-centroid
    * bucket assignment against a static (trained) centroid set is one
    * per-row kernel call — zero shuffle, zero state — so the batch
    * core runs unchanged; parity-tested.
    */
  def ivfAssignStream(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    graft.pipeline.Knn.ivfAssign(embeddings, centroids)

  /** Radius search of a live query-vector stream against the static
    * [[graft.pipeline.Knn.ballServingIndex]] — "alert on everything this
    * similar to what just arrived": probe selection is a stateless
    * per-row kernel call against the broadcast centroid row, candidates come from a
    * stream-static bucket equi-join, the threshold filter is per-row.
    * Shares [[graft.pipeline.Knn.ballQueryAgainst]] with the batch form,
    * so results are equal by construction; parity-tested.
    */
  def ballQueryStream(queries: DataFrame, cents: DataFrame,
      assigned: DataFrame): DataFrame =
    graft.pipeline.Knn.ballQueryAgainst(queries, cents, assigned)

  /** Live JL projection of an embedding stream — the streaming twin of
    * [[graft.pipeline.Knn.jlProject]]: the sign matrix is a literal and
    * each output dim a per-row dot, so the batch core (zero shuffle,
    * zero state) runs unchanged; parity-tested.
    */
  def jlProjectStream(embeddings: DataFrame): DataFrame =
    graft.pipeline.Knn.jlProjectCore(embeddings)

  /** Projection of a live embedding stream onto a static (offline-fit)
    * principal direction ([[graft.pipeline.Knn.embeddingPca]] output) —
    * the whitening-coordinate step applied at ingestion: the 64-row
    * direction broadcasts, each vector's exact-BIGINT projection is one
    * stateless per-row dot (posexplode + broadcast join + per-vec sum,
    * watermark-finalized). Identical integer arithmetic to the batch
    * [[graft.pipeline.Knn.pcaProject]].
    */
  def pcaProjectStream(
      embeddings: DataFrame, direction: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.Knn
    val dir = direction.select((col("pos") - 1).as("pos"), col("v_fp"))
    embeddings
      .withWatermark("ts", delay)
      .select(col("vec_id"), col("ts"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * Knn.PcaScale).cast("long"))).as(Seq("pos", "xs")))
      .join(broadcast(dir), Seq("pos"))
      .groupBy(col("ts"), col("vec_id"))
      .agg(sum(col("xs") * col("v_fp")).as("proj_fp"))
      .select(col("vec_id"), col("proj_fp"))
  }

  /** NB classification of a live document stream against a static
    * pre-trained model — the production shape of the fastText-style
    * language/quality filter: weights
    * ([[graft.pipeline.Classify.nbModelAndPriors]]) are trained offline,
    * the firehose is classified online. The class list is read from the
    * static priors at plan-build time (the model defines the label
    * space), the V × L weight table pivots to one broadcastable row per
    * token, and the per-document argmax folds into the SAME watermarked
    * aggregation that sums the scores (an integer `max` over
    * (score, −class-index) structs — highest score, ties to the
    * lexicographically first class, exactly the batch row_number
    * ordering), so one stateful operator does scoring AND prediction.
    * Zero-token and all-OOV documents still classify (prior-only argmax)
    * via `explode_outer` + the left model join — no row drops, matching
    * batch.
    */
  def nbClassifyStream(
      documents: DataFrame, model: DataFrame, priors: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.TextAnalysis
    // the model is static and small (V × L): collect the label space once
    val ps = priors.select(col("lang"), col("prior_fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val langs = ps.map(_._1)
    // one row per token, one weight column per class, broadcast to the
    // stream-static join (s_<i> naming sidesteps class-name characters)
    val pivoted = model.groupBy(col("tok"))
      .pivot(col("lang"), langs.toSeq)
      .agg(first(col("s_fp")))
      .select(col("tok") +: langs.zipWithIndex.map {
        case (l, i) => col(l).as(s"s_$i") }: _*)
    val best = array_max(array(ps.zipWithIndex.map { case ((_, prior), i) =>
      struct(
        (sum(coalesce(col(s"s_$i"), lit(0L))) + lit(prior)).as("score"),
        lit(-i).as("ni"))
    }: _*))
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
      .join(broadcast(pivoted), Seq("tok"), "left_outer")
      .groupBy(col("ts"), col("doc_id"))
      .agg(best.as("best"))
      .select(col("doc_id"),
        element_at(typedLit(langs.toSeq), (-col("best.ni")).cast("int") + 1)
          .as("pred_lang"),
        col("best.score").as("score"))
  }

  /** DSIR importance weighting of a live document pool against a static
    * trained per-bucket log-importance model
    * ([[graft.pipeline.Curation.dsirLambda]]) — the streaming half of
    * importance resampling: the model is fit offline on (target, raw)
    * corpora, every incoming pool document gets its exact integer
    * log-weight online. The feature explode is per-row, the λ join is
    * stream-static broadcast (≤DsirBuckets rows), and the per-doc sum is
    * watermark-finalized — identical BIGINT arithmetic to the batch
    * scorer, so streamed weights feed the same top-K selection. The
    * inner λ join mirrors batch (pool buckets ⊆ raw-model buckets when
    * the model saw the pool's source; an offline model for a foreign
    * pool would carry a default-λ row instead).
    */
  def dsirScoreStream(
      documents: DataFrame, lambda: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.{Curation, TextAnalysis}
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        // same native feature hashes as Curation.dsirDocBuckets
        explode(concat(
          graft.functions.TextFunctions.tokenGramHashes(col("text"), 1),
          graft.functions.TextFunctions.tokenGramHashes(col("text"), 2))).as("fh"))
      .select(col("doc_id"), col("ts"),
        (col("fh") % Curation.DsirBuckets).as("bucket"))
      .join(broadcast(lambda), Seq("bucket"))
      .groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("l_fp")).as("logw_fp"))
      .select(col("doc_id"), col("n_feats"), col("logw_fp"))
  }

  /** BM25 scoring of a live document stream against a static retrieval
    * model ([[graft.pipeline.Search.bm25Model]]: per-term df + corpus
    * stats, fit offline) — the scoring half of [[graft.pipeline.Search.bm25Search]]
    * as an ingestion-time job ("alert when a crawled page matches the
    * probe query"). Token explode, literal-set term filter, broadcast
    * model join, and ONE watermarked per-doc aggregation over the shared
    * [[graft.pipeline.Search.bm25ContribFp]] expression — identical
    * arithmetic to batch, so per-doc scores are bit-equal.
    */
  def bm25ScoreStream(
      documents: DataFrame, model: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.{Search, TextAnalysis}
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(Search.QueryTerms.map(lit): _*))
      .groupBy(col("ts"), col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(model), Seq("tok"))
      .select(col("ts"), col("doc_id"), Search.bm25ContribFp.as("s_fp"))
      .groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms"), sum(col("s_fp")).as("score_fp"))
      .select(col("doc_id"), col("n_terms"), col("score_fp"))
  }

  /** CCNet bucket assignment of a live document stream against the static
    * offline-fit model: the bigram surprisal table
    * ([[graft.pipeline.TextAnalysis.lmSurprisalModel]]) and the one-row
    * tertile thresholds ([[graft.pipeline.TextAnalysis.ccnetThresholds]])
    * both broadcast; scoring is the [[docLmScoreStream]] shape and the
    * head/middle/tail CASE is the shared batch expression — exactly how
    * CCNet deploys (thresholds fit on a reference corpus, applied at
    * crawl ingestion).
    */
  def ccnetBucketStream(
      documents: DataFrame, model: DataFrame, thresholds: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.TextAnalysis
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        explode(TextAnalysis.bigramArray(col("text"))).as("bg"))
      .select(col("doc_id"), col("ts"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(model, Seq("w1", "w2"))
      .groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"), sum(col("s_fp")).as("nll_fp"))
      .withColumn("ppl_fp",
        round(col("nll_fp").cast("double") / col("n_bigrams")).cast("long"))
      .crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("n_bigrams"), col("nll_fp"), col("ppl_fp"),
        TextAnalysis.ccnetBucketCase.as("bucket"))
  }

  /** Near-dup detection of a live document stream against the static LSH
    * index ([[graft.pipeline.Dedup.nearDupBandIndex]] +
    * [[graft.pipeline.Dedup.nearDupShingleSets]], built offline) — the
    * ingest-time form of MinHash dedup: one watermarked event-time
    * aggregation builds each arriving doc's signature and shingle set,
    * band buckets probe the static index statelessly, and the exact
    * Jaccard verify runs via `array_intersect` against the static sets.
    * Per-pair numbers are bit-equal to the batch pair relation
    * (parity-tested set-equal against `dedupMinhashLsh` both ways round).
    */
  def nearDupStream(documents: DataFrame, bandIndex: DataFrame,
      shingleSets: DataFrame, delay: String = "1 minute"): DataFrame =
    graft.pipeline.Dedup.nearDupDetect(
      documents.withWatermark("ts", delay), bandIndex, shingleSets)

  /** C4-style boilerplate stripping of a live document stream against the
    * static corpus-wide block-count relation
    * ([[graft.pipeline.TextAnalysis.boilerplateBlockCounts]], built
    * offline) — the rewrite step as a streaming job: each incoming
    * document's blocks test against the broadcast counts, survivors
    * rebuild the cleaned text inside ONE watermarked per-doc aggregation
    * (ordered reconstruction via `array_sort` over collected
    * (block_idx, text) structs — no window function). Blocks unseen
    * offline count as singletons (kept); zero-token documents still
    * report, with empty cleaned text, via `explode_outer`.
    */
  def boilerplateStripStream(
      documents: DataFrame, blockCounts: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.TextAnalysis
    val B = TextAnalysis.BpBlockTokens
    val posArr =
      when(size(col("toks")) > 0,
        sequence(lit(1), size(col("toks")), lit(B)))
      .otherwise(array().cast("array<int>"))
    val keepBlock = col("s").isNotNull &&
      coalesce(col("n"), lit(1L)) <= TextAnalysis.BpMaxCopies
    documents
      .withWatermark("ts", delay)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("ts"), col("toks"),
        explode_outer(posArr).as("s"))
      .withColumn("block_idx", ((col("s") - 1) / B).cast("long"))
      .withColumn("block_text",
        when(col("s").isNotNull, concat_ws(" ", slice(col("toks"), col("s"), lit(B)))))
      .withColumn("h", md5(col("block_text")))
      .join(broadcast(blockCounts), Seq("h"), "left_outer")
      .groupBy(col("ts"), col("doc_id"))
      .agg(
        count(when(col("s").isNotNull, lit(1))).as("n_blocks"),
        sum(when(col("s").isNotNull &&
          coalesce(col("n"), lit(1L)) > TextAnalysis.BpMaxCopies, 1L)
          .otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(keepBlock,
            struct(col("block_idx"), col("block_text"))))),
          x => x.getField("block_text")), " ").as("clean_text"))
      .select(col("doc_id"), col("n_blocks"), col("n_dropped"),
        col("clean_text"), length(col("clean_text")).cast("long").as("n_clean_chars"))
  }

  /** Percentile calibration of a live document stream against the static
    * per-(stratum, score) calibration relation
    * ([[graft.pipeline.Curation.qualityCalibrationTable]], fit offline) —
    * the production quality-gate shape: the distribution is estimated on
    * the historical corpus, each incoming document gets its within-stratum
    * percentile online. Pure stream-static broadcast join — stateless, no
    * watermark, zero shuffles on the stream side. A live score outside
    * the fitted support drops at the inner join (an offline deployment
    * would ship boundary rows or a range join instead).
    */
  def qualityCalibrateStream(documents: DataFrame, table: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        coalesce(col("lang"), lit("")).as("lang_key"),
        length(col("text")).cast("long").as("score"))
      .join(broadcast(table), Seq("lang_key", "score"))
      .select(col("doc_id"), col("lang_key"), col("score"),
        col("n_strat"), col("below"), col("pct_fp"))

  /** Topic-cluster report over a live embedding stream against static
    * (trained) centroids: map-only assignment
    * ([[graft.pipeline.Knn.assignClusters]]) then ONE watermarked per-
    * (window, cluster) aggregation producing size, label diversity, and
    * dominant label. The batch argmax window is folded into the same
    * aggregation: labels collect into a bounded array (label cardinality
    * is small and fixed) and a stateless `array_max` over per-label
    * (count, −label) structs picks the mode — ties to the smallest
    * label, exactly the batch `ORDER BY n DESC, label` rule.
    */
  def topicReportStream(
      embeddings: DataFrame, centroids: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    val assigned = graft.pipeline.Knn.assignClusters(
      embeddings.withWatermark("ts", delay), centroids)
    val counts = transform(array_distinct(col("labels")),
      l => struct(
        size(filter(col("labels"), x => x === l)).cast("long").as("n"),
        (-l).as("nl")))
    assigned
      .groupBy(col("ts"), col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sort_array(collect_list(col("label").cast("long"))).as("labels"))
      .withColumn("best", array_max(counts))
      .select(col("cluster"), col("n_vecs"),
        size(array_distinct(col("labels"))).cast("long").as("n_labels"),
        (-col("best.nl")).as("top_label"), col("best.n").as("n_top"))
  }

  /** SemDeDup on a live embedding stream against a STATIC clustered
    * reference index ([[graft.pipeline.Knn.semanticIndex]], built offline
    * over the historical corpus) — the production ingestion shape: each
    * incoming vector is cluster-assigned (map-only broadcast), compared
    * only against the reference members of ITS cluster (the SemDeDup
    * pair-space bound — stream-static join fan-out is the cluster size,
    * never the corpus), and reported with its near-dup count and first
    * matching reference id. Vectors with no near-dup produce no row (the
    * report is the dup stream; the keep stream is its complement).
    */
  def semanticDedupStream(
      embeddings: DataFrame, centroids: DataFrame, refIndex: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.Knn
    val assigned = Knn.assignClusters(
      embeddings.withWatermark("ts", delay), centroids)
    val ref = refIndex.select(col("vec_id").as("ref_id"), col("cluster"),
      col("embedding").as("ref_emb"), col("nrm").as("ref_nrm"))
    assigned
      .join(broadcast(ref), Seq("cluster"))
      .filter(col("ref_id") =!= col("vec_id"))
      .filter((Knn.dot(col("embedding"), col("ref_emb"))
        / (col("nrm") * col("ref_nrm"))) >= Knn.SemDedupTau)
      .groupBy(col("ts"), col("vec_id"), col("cluster"))
      .agg(count(lit(1)).as("n_dups"), min(col("ref_id")).as("first_dup"))
      .select(col("vec_id"), col("cluster"), col("n_dups"), col("first_dup"))
  }

  /** Exact-substring duplicated-span reporting on a live document stream
    * against the static corpus-global duplicated-gram set
    * ([[graft.pipeline.Dedup.substrDupHashes]], built offline — the
    * suffix-array replacement's whole global state). Each document's
    * gram hashes are per-row; the dup test is a stream-static broadcast
    * join on 8-byte keys; and the batch gaps-and-islands window is
    * replaced by an order-free fold: duplicated positions collect into
    * the watermarked per-doc aggregation, then ONE stateless
    * `aggregate()` over the sorted array merges overlapping/abutting
    * [pos, pos+K) intervals — same maximal spans, no window function
    * (which streaming can't sort), state bounded by in-flight docs.
    */
  def dedupSubstringStream(
      documents: DataFrame, dupHashes: DataFrame,
      delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.Dedup
    val K = Dedup.SubstrK
    val posArray =
      when(length(col("text")) >= K,
        sequence(lit(1L), (length(col("text")) - lit(K - 1)).cast("long")))
      .otherwise(array().cast("array<long>"))
    val dup = dupHashes.select(col("h"), lit(1L).as("hit"))
    // fold state: (n closed spans, closed char mass, current span start,
    // last position in current span); finish closes the open span
    val islands = aggregate(
      array_sort(col("ps")),
      struct(lit(0L).as("n"), lit(0L).as("c"), lit(-1L).as("s"), lit(-1L).as("last")),
      (acc, p) =>
        when(acc("s") < 0,
          struct(lit(0L).as("n"), lit(0L).as("c"), p.as("s"), p.as("last")))
        .when(p > acc("last") + K,
          struct((acc("n") + 1).as("n"),
            (acc("c") + acc("last") + K - acc("s")).as("c"),
            p.as("s"), p.as("last")))
        .otherwise(
          struct(acc("n").as("n"), acc("c").as("c"), acc("s").as("s"), p.as("last"))),
      acc =>
        when(acc("s") < 0, struct(lit(0L).as("n"), lit(0L).as("c")))
        .otherwise(struct((acc("n") + 1).as("n"),
          (acc("c") + acc("last") + K - acc("s")).as("c"))))
    documents
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"), col("n_chars"), col("text"),
        explode_outer(posArray).as("p"))
      .withColumn("h",
        when(col("p").isNotNull, graft.C.md5Long(col("text").substr(col("p").cast("int"), lit(K)))))
      .join(broadcast(dup), Seq("h"), "left_outer")
      .groupBy(col("ts"), col("doc_id"), col("n_chars"))
      .agg(collect_list(when(col("hit") === 1L, col("p"))).as("ps"))
      .select(col("doc_id"), col("n_chars"), islands.as("isl"))
      .select(col("doc_id"), col("n_chars"),
        col("isl.n").as("n_dup_spans"), col("isl.c").as("dup_chars"))
  }

  /** Per-window CMS heavy-hitters sketch on a live stream — the streaming
    * twin of [[graft.agg.HeavyHitters]]: `count_min_sketch` is a mergeable
    * aggregate, so it runs unchanged as a watermarked windowed streaming
    * agg; each closed window emits one eps/confidence-sized byte blob
    * regardless of key cardinality (state per window = one sketch, the
    * point of sketching at 1e8-key scale). Counter merges are elementwise
    * sums, so the streamed sketch is byte-identical to the batch-built
    * sketch over the same window — parity-tested.
    */
  def hotItemsSketchStream(events: DataFrame, delay: String = "1 minute"): DataFrame =
    EventWindows.hourly(
      events
        .withWatermark("ts", delay)
        .filter(col("event_type") === "click")
        .select(col("ts"), graft.C.propsK(col("props")).as("item_id"))
        .filter(col("item_id").isNotNull),
      graft.agg.HeavyHitters.cmsAgg(col("item_id")).as("sketch"))

  /** The curation funnel ([[graft.pipeline.Curation.curatePipeline]]) on a
    * live document stream — same three verdicts, re-expressed with the
    * operators a stream admits:
    *   - `keep_quality`: the repetition rule as a pure per-row expression
    *     (no state);
    *   - `keep_dedup`: first-arrival-wins via
    *     `dropDuplicatesWithinWatermark` on the content hash — the
    *     streaming analog of batch min-id-wins (identical when arrival
    *     order is id order, the parity-test setup). Note the verdict here
    *     SELECTS rows (dups never emit) rather than flagging them — a
    *     stream can't retract an emitted row, so the funnel's 0/1 column
    *     becomes a filter;
    *   - `keep_decontam`: a stream-static broadcast join against the eval
    *     set's distinct shingle hashes collapsed to ONE static row
    *     holding the sorted hash array. Benchmarks are small by
    *     construction (the reason decontamination is tractable at all),
    *     so the array ships with the broadcast and the overlap fraction
    *     is again a per-row expression — no stream-side explode, no
    *     stateful re-aggregation.
    * Output: surviving docs only (keep ≡ 1 by construction), with
    * `contam_frac` retained as the audit signal.
    */
  def curatePipelineStream(
      documents: DataFrame, evalHashes: DataFrame, delay: String = "1 minute"): DataFrame = {
    import graft.pipeline.{Curation, TextAnalysis}
    val evalArr = broadcast(
      evalHashes.select(col("h0")).distinct()
        .agg(sort_array(collect_list(col("h0"))).as("ev"))
        .withColumn("j", lit(1)))
    val toks = TextAnalysis.tokens(col("text"))
    val shingleHashes = array_distinct(transform(
      sequence(lit(1), size(col("toks")) - 2),
      i => graft.C.md5Long(concat_ws(" ",
        element_at(col("toks"), i),
        element_at(col("toks"), i + 1),
        element_at(col("toks"), i + 2)))))
    val bigrams = transform(sequence(lit(1), size(col("toks")) - 1),
      i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))
    documents
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_hash")
      .withColumn("j", lit(1))
      .join(evalArr, Seq("j"), "left")
      .withColumn("toks", toks)
      // condition written >= so a NULL token array (NULL text) falls to the
      // keep branch, matching batch curatePipeline's coalesce(keep, 1) for
      // docs absent from the repetition relation
      .withColumn("keep_quality",
        when(size(col("toks")) >= 2,
          when(lit(1.0) - size(array_distinct(bigrams)).cast("double") / size(bigrams)
            <= TextAnalysis.RepetitionMax, 1L).otherwise(0L))
          .otherwise(lit(1L)))
      .withColumn("sh", when(size(col("toks")) >= 3, shingleHashes).otherwise(array()))
      .withColumn("contam_frac",
        when(size(col("sh")) === 0, lit(0.0)).otherwise(
          size(filter(col("sh"), h => array_contains(col("ev"), h))).cast("double")
            / size(col("sh"))))
      .withColumn("keep_decontam",
        when(col("doc_id") % 53 === 0, lit(0L))
          .otherwise((col("contam_frac") < Curation.DecontamMax).cast("long")))
      .filter(col("keep_quality") === 1 && col("keep_decontam") === 1)
      // survivors only — the verdict columns are 1 by construction here,
      // so emit just the real audit signal
      .select(col("doc_id"), col("ts"), col("contam_frac"))
  }

  /** Kafka entry path (the reference declares flink-connector-kafka,
    * pom.xml:28-37, without using it): CSV-line values from a topic parsed
    * with a reference schema. Transport and parse are decoupled —
    * [[graft.sources.ReferenceData.parseCsvLines]] is the broker-free,
    * unit-testable half; this adds only the `format("kafka")` wiring
    * (needs the spark-sql-kafka connector on the classpath at runtime).
    */
  def kafkaCsvSource(
      spark: org.apache.spark.sql.SparkSession, bootstrapServers: String, topic: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    graft.sources.ReferenceData.parseCsvLines(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .load()
        .select(col("value").cast("string").as("value")),
      schema)
}
