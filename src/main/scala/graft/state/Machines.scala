package graft.state

import graft.model._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupState

/** The `flatMapGroupsWithState` state machines — Spark-native equivalents of
  * the reference's KeyedProcessFunctions (SURVEY.md §2.9). Each machine is a
  * pure function over (key, sorted events, state) so the same code runs in
  * batch tests and streaming; events inside one invocation are sorted by
  * (ts, event_id) since neither Flink nor Spark guarantees iterator order,
  * and the reference's `assignAscendingTimestamps` sources imply in-order
  * delivery anyway (SURVEY.md §2.10).
  *
  * State per key is O(1) (last-event / counters / open-orders list) — the
  * store scales with #keys, not #events, which is what survives 100 TB.
  */
object Machines {

  // ---- Login-fail (H/LoginFailDetect/LoginFailTwo.scala:60-91) ----

  /** Consecutive-failure detection: two back-to-back `error` events within
    * `gapSec` emit a warning; any non-error event resets. Same semantics as
    * the batch `FraudDetect.loginFailConsecutive` (lag-based) and the CEP
    * `fail next fail within(gap)` pattern.
    */
  def loginFailFn(gapSec: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[LoginState]): Iterator[LoginWarning] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var last = state.getOption.getOrElse(LoginState(None)).lastFailTs
    val out = Seq.newBuilder[LoginWarning]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      if (e.event_type == "error") {
        last.foreach { prev =>
          if (sec - prev <= gapSec) out += LoginWarning(userId, prev, sec)
        }
        last = Some(sec)
      } else {
        last = None // success clears (LoginFailTwo.scala:86-89)
      }
    }
    state.update(LoginState(last))
    out.result().iterator
  }

  /** Burst detection with an event-time timer — LoginFailOne semantics
    * (H/LoginFailDetect/LoginFailOne.scala:62-106): buffer failures of an
    * uninterrupted run; when the watermark passes firstFail+span (timer) or
    * a success ends the run, emit one warning if ≥2 failures landed within
    * the span. After the span window closes the run is exhausted until a
    * success resets it (one warning per run, like the reference's
    * clear-on-timer).
    *
    * Timer encoding: `GroupState.setTimeoutTimestamp` has a single slot and
    * no cancel (SURVEY.md §7.4) — cancellation is encoded in state
    * (`exhausted` / run cleared) and stale timeouts no-op.
    */
  def loginBurstFn(spanSec: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[BurstState]): Iterator[BurstWarning] = {
    val out = Seq.newBuilder[BurstWarning]

    def finalizeRun(st: BurstState): Unit =
      st.firstFail.foreach { first =>
        val inSpan = st.fails.filter(_ <= first + spanSec)
        if (inSpan.size >= 2)
          out += BurstWarning(userId, first, inSpan.max, inSpan.size.toLong)
      }

    if (state.hasTimedOut) {
      val st = state.getOption.getOrElse(BurstState(None, Nil, exhausted = false))
      finalizeRun(st)
      // exhaust only an active run — a stale timer on an already-cleared
      // state must not block the next run
      state.update(st.copy(exhausted = st.firstFail.isDefined))
    } else {
      var st = state.getOption.getOrElse(BurstState(None, Nil, exhausted = false))
      val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.foreach { e =>
        val sec = e.ts.getTime / 1000
        if (e.event_type == "error") {
          if (!st.exhausted) {
            if (st.firstFail.isEmpty) {
              st = BurstState(Some(sec), List(sec), exhausted = false)
              // arm the span timer; if the watermark already passed it, fire
              // on the next batch (emission filters to the span regardless)
              val target = (sec + spanSec) * 1000
              state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1))
            } else {
              st = st.copy(fails = st.fails :+ sec)
            }
          }
        } else {
          // success: run ends now — emit if the span criterion already holds
          if (!st.exhausted) finalizeRun(st)
          st = BurstState(None, Nil, exhausted = false)
        }
      }
      state.update(st)
    }
    out.result().iterator
  }

  // ---- Generic CEP (H/LoginFailDetect/LoginFailWithCep.scala:56-60,
  //      H/OrderTimeoutDetect/OrderTimeoutWithCep.scala:45-48) ----

  /** Streaming twin of [[graft.ops.Cep.nextPattern]] — strict contiguity
    * (`s1 next s2 … within withinSec`): `preds.length` consecutive events
    * of one key satisfy the predicates in order with first→last gap ≤
    * `withinSec`. State is the last `preds.length − 1` raw events, so a
    * pattern spanning a micro-batch boundary still matches.
    */
  def cepNextFn(preds: Seq[Event => Boolean], withinSec: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[CepNextState]): Iterator[CepMatch] = {
    require(preds.length >= 2, "a pattern needs at least 2 steps")
    val n = preds.length
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var recent = state.getOption.getOrElse(CepNextState(Nil)).recent
    val out = Seq.newBuilder[CepMatch]
    sorted.foreach { e =>
      val win = recent :+ e // the n consecutive events ending at e
      if (win.length == n
          && win.lazyZip(preds).forall((ev, p) => p(ev))
          && e.ts.getTime / 1000 - win.head.ts.getTime / 1000 <= withinSec)
        out += CepMatch(userId, win.map(_.ts.getTime / 1000))
      recent = win.takeRight(n - 1)
    }
    state.update(CepNextState(recent))
    out.result().iterator
  }

  /** Streaming twin of [[graft.ops.Cep.followedBy]] — relaxed contiguity
    * (`a followedBy b within withinSec`): each b-event matches the latest
    * strictly-preceding a-event (see the divergence note there). The
    * b-check runs before the a-update, so an event matching both
    * predicates pairs with *earlier* a's only — exactly the batch frame
    * `ROWS … AND 1 PRECEDING`.
    */
  def cepFollowedByFn(predA: Event => Boolean, predB: Event => Boolean, withinSec: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[CepFollowState]): Iterator[CepMatch] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var lastA = state.getOption.getOrElse(CepFollowState(None)).lastA
    val out = Seq.newBuilder[CepMatch]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      if (predB(e))
        lastA.foreach { a => if (sec - a <= withinSec) out += CepMatch(userId, Seq(a, sec)) }
      if (predA(e)) lastA = Some(sec)
    }
    state.update(CepFollowState(lastA))
    out.result().iterator
  }

  // ---- Last-touch attribution (streaming as-of join) ----

  /** Streaming twin of [[graft.ops.AsOf.purchaseAttribution]]: per user, a
    * `click` updates the carried last-click state; a `purchase` emits with
    * whatever click is carried. The batch form's window sort
    * `(ts, is_left, id)` becomes the in-batch sort key `(ts, click-first,
    * event_id)` plus cross-batch state, reproducing both tie rules: a click
    * at exactly the purchase's timestamp matches (click sorts first), and
    * among equal-ts clicks the greatest id wins (ascending replay — the
    * last update sticks). Other event types pass through untouched.
    */
  def lastTouchFn(
      userId: Long, events: Iterator[Event], state: GroupState[AsOfState]): Iterator[AttributionRow] = {
    val sorted = events.toSeq
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .sortBy(e => (e.ts.getTime, if (e.event_type == "click") 0 else 1, e.event_id))
    var st = state.getOption.getOrElse(AsOfState(None, None))
    val out = Seq.newBuilder[AttributionRow]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      if (e.event_type == "click") st = AsOfState(Some(e.event_id), Some(sec))
      else out += AttributionRow(e.event_id, userId, sec, st.lastClickId, st.lastClickTs)
    }
    state.update(st)
    out.result().iterator
  }

  // ---- Order timeout (H/OrderTimeoutDetect/OrderTimeout.scala:58-143) ----

  /** Create→pay matching: a `signup` opens an order (order id := event id);
    * the user's next `purchase` closes every open order — within
    * `timeoutSec` → "payed successfully", later → "payed but already
    * timeout". Orders still open when the stream ends are flushed by
    * [[orderFlush]] as "order timeout". Mirrors the batch
    * `OrderFlow.orderTimeout` outcomes exactly.
    */
  def orderTimeoutFn(timeoutSec: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[OrderState]): Iterator[OrderResult] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var open = state.getOption.getOrElse(OrderState(Nil)).open
    val out = Seq.newBuilder[OrderResult]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      e.event_type match {
        case "signup" =>
          open = open :+ (e.event_id -> sec)
        case "purchase" =>
          open.foreach { case (oid, createTs) =>
            val msg =
              if (sec - createTs <= timeoutSec) "payed successfully"
              else "payed but already timeout"
            out += OrderResult(oid, userId, createTs, Some(sec), msg)
          }
          open = Nil
        case _ => ()
      }
    }
    state.update(OrderState(open))
    out.result().iterator
  }

  /** End-of-stream flush for orders never paid. */
  def orderFlush(userId: Long, state: OrderState): Seq[OrderResult] =
    state.open.map { case (oid, createTs) =>
      OrderResult(oid, userId, createTs, None, "order timeout")
    }

  // ---- Ad blacklist (H/MarketAnalysis/AdAnalysisByProvinceBlack.scala:69-109) ----

  /** Per-(user, ad) daily click limiter: clicks 1..threshold pass, click
    * threshold+1 emits a single warning, further clicks are dropped; the
    * counter resets when the event-time UTC day advances (deviation from
    * the reference's processing-time midnight timer — SURVEY.md §7.4).
    * Key encoding: the caller keys by (user_id, ad_id).
    */
  def blacklistFn(threshold: Long)(
      key: (Long, Long), events: Iterator[(Event, Long)],
      state: GroupState[BlacklistState]): Iterator[BlacklistRow] = {
    val (userId, adId) = key
    val sorted = events.toSeq.sortBy { case (e, _) => (e.ts.getTime, e.event_id) }
    var st = state.getOption.getOrElse(BlacklistState(-1L, 0L, warned = false))
    val out = Seq.newBuilder[BlacklistRow]
    sorted.foreach { case (e, _) =>
      val sec = Math.floorDiv(e.ts.getTime, 1000L)
      val day = Math.floorDiv(sec, 86400L) * 86400
      if (day != st.day) st = BlacklistState(day, 0L, warned = false)
      val count = st.count + 1
      if (count <= threshold)
        out += BlacklistRow("pass", userId, adId, day, sec)
      else if (!st.warned) {
        out += BlacklistRow("warn", userId, adId, day, sec)
        st = st.copy(warned = true)
      }
      st = st.copy(count = count)
    }
    state.update(st)
    out.result().iterator
  }

  /** Streaming twin of [[graft.ops.EventWindows.eventFunnel]]: per user,
    * the first `view` opens the funnel, the first `click` within `gapSec`
    * of it completes step 2, the first `purchase` within `gapSec` of the
    * click completes step 3 — each advance emits once, state is three
    * optional timestamps. Events sort by (ts, funnel-step rank, id) within
    * a batch so an equal-timestamp view→click→purchase chain resolves in
    * funnel order exactly as the batch min-over-window does.
    */
  def funnelFn(gapSec: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[FunnelState]): Iterator[FunnelAdvance] = {
    def rank(t: String) = t match {
      case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3
    }
    val sorted = events.toSeq
      .sortBy(e => (e.ts.getTime, rank(e.event_type), e.event_id))
    var st = state.getOption.getOrElse(FunnelState(None, None, None))
    val out = Seq.newBuilder[FunnelAdvance]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      e.event_type match {
        case "view" if st.t1.isEmpty =>
          st = st.copy(t1 = Some(sec)); out += FunnelAdvance(userId, 1L, sec)
        case "click" if st.t1.nonEmpty && st.t2.isEmpty
            && sec >= st.t1.get && sec <= st.t1.get + gapSec =>
          st = st.copy(t2 = Some(sec)); out += FunnelAdvance(userId, 2L, sec)
        case "purchase" if st.t2.nonEmpty && st.t3.isEmpty
            && sec >= st.t2.get && sec <= st.t2.get + gapSec =>
          st = st.copy(t3 = Some(sec)); out += FunnelAdvance(userId, 3L, sec)
        case _ =>
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Weekly-cohort retention, live: the user's EARLIEST-seen event pins the
    * cohort week; every first-activity-in-a-week emits one credit at offset
    * (week − cohort). A late event from a week BEFORE the current cohort
    * re-bases the cohort and re-emits every credited week at its corrected
    * offset, so the stream converges to the batch twin's min-week cohort
    * whatever order micro-batches arrive in. The credit stream is an upsert
    * keyed (user, activity week = cohort + offset); because a re-base only
    * ever LOWERS the cohort, the superseding emission is exactly the one
    * with the minimal cohort — so the resolution is computable from the
    * rows alone, no emission-order field needed: reduce to min cohort per
    * (user, activity week) before counting
    * ([[graft.streaming.StreamJobs.resolveRetentionCredits]]). State is the
    * cohort plus credited weeks — calendar-bounded per user. The cohort
    * triangle is the count over the RESOLVED credits (batch twin:
    * `EventWindows.retentionCohorts`; in-order AND out-of-order parity in
    * `StreamingParitySpec` "streaming retention credits" tests).
    */
  def retentionFn(
      userId: Long, events: Iterator[Event],
      state: GroupState[RetentionState]): Iterator[CohortHit] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val out = Seq.newBuilder[CohortHit]
    var st = state.getOption.orNull
    sorted.foreach { e =>
      val wk = e.ts.getTime / 1000 / 604800
      if (st == null) {
        st = RetentionState(wk, List(wk))
        out += CohortHit(userId, wk, 0L)
      } else if (wk < st.cohort) {
        // Late-data re-base: an event EARLIER than the first-seen week
        // arrived in a later micro-batch. The batch twin pins the cohort
        // to the MIN week, so re-base to it and RE-EMIT every credited
        // week at its corrected offset. Re-credit semantics: the stream
        // is an upsert keyed (user, activity week = cohort + offset) —
        // the min-cohort emission supersedes (re-base only lowers the
        // cohort); consumers that plain-count must first reduce via
        // StreamJobs.resolveRetentionCredits (see StreamingParitySpec's
        // out-of-order split test). Offsets are never negative.
        st = RetentionState(wk, wk :: st.seen)
        out += CohortHit(userId, wk, 0L)
        st.seen.filter(_ > wk).foreach(s => out += CohortHit(userId, wk, s - wk))
      } else if (!st.seen.contains(wk)) {
        st = RetentionState(st.cohort, wk :: st.seen)
        out += CohortHit(userId, st.cohort, wk - st.cohort)
      }
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** First-order journey transitions, live: per user, each event emits the
    * (previous type → this type) pair and becomes the new last event —
    * O(1) state. The types² transition matrix is the downstream count
    * (batch twin: `EventWindows.userPathTransitions`, same
    * (ts, event_id) order).
    */
  def pathTransitionFn(
      userId: Long, events: Iterator[Event],
      state: GroupState[PathState]): Iterator[Transition] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val out = Seq.newBuilder[Transition]
    var st = state.getOption.orNull
    sorted.foreach { e =>
      if (st != null) out += Transition(userId, st.lastType, e.event_type)
      st = PathState(e.ts.getTime, e.event_id, e.event_type)
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Flink-CEP followedBy-each, live (`Cep.followedByEach` semantics):
    * every signup starts a partial match that completes at the FIRST
    * subsequent purchase. The first purchase after a signup DECIDES it —
    * in-window pending signups emit a match, late ones can never match a
    * later purchase (their first-b is this one) and die silently — so
    * state drains to empty at every purchase: bounded by one
    * purchase-free stretch, never a pending-match buffer over the stream
    * (the O(1)-per-event property Flink's skip-till-next-match shares).
    * Batch twin: [[graft.ops.Cep.signupThenPurchaseEach]], parity-tested.
    */
  def signupPurchaseEachFn(withinSec: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[PendingSignups]): Iterator[CepPair] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var pending = state.getOption.getOrElse(PendingSignups(Nil)).pending
    val out = Seq.newBuilder[CepPair]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      e.event_type match {
        case "signup" => pending = pending :+ sec
        case "purchase" =>
          pending.foreach { s =>
            if (sec - s <= withinSec) out += CepPair(userId, s, sec)
          }
          pending = Nil
        case _ => ()
      }
    }
    state.update(PendingSignups(pending))
    out.result().iterator
  }

  /** Absence pattern, live (`Cep.notFollowedBy` semantics): a signup is
    * abandoned iff its FIRST subsequent purchase is absent or past the
    * deadline — fully decided by that first purchase, so the alert fires
    * the moment it arrives (no watermark wait for the negative case
    * proved by a positive event); signups the stream never answers are
    * flushed by [[abandonedFlush]] at end of replay (in production, by
    * the event-time timeout when the watermark passes the deadline).
    * Same draining state as [[signupPurchaseEachFn]] — the two machines
    * partition every signup exactly like Flink CEP's
    * select(timeoutTag, timeoutFn, matchFn) two-sided output.
    * Batch twin: [[graft.ops.Cep.abandonedSignup]], parity-tested.
    */
  def abandonedSignupFn(withinSec: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[PendingSignups]): Iterator[CepTimeout] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var pending = state.getOption.getOrElse(PendingSignups(Nil)).pending
    val out = Seq.newBuilder[CepTimeout]
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      e.event_type match {
        case "signup" => pending = pending :+ sec
        case "purchase" =>
          pending.foreach { s =>
            if (sec - s > withinSec) out += CepTimeout(userId, s, s + withinSec)
          }
          pending = Nil
        case _ => ()
      }
    }
    state.update(PendingSignups(pending))
    out.result().iterator
  }

  /** End-of-replay flush for signups no purchase ever answered — all
    * abandoned (batch b_e IS NULL arm). */
  def abandonedFlush(userId: Long, state: PendingSignups,
      withinSec: Long): Seq[CepTimeout] =
    state.pending.map(s => CepTimeout(userId, s, s + withinSec))

  // ---- SCD2 history, live ----

  /** Live SCD type-2 builder — streaming twin of
    * [[graft.ops.History.scd2Intervals]]: a closed validity interval is
    * emitted the moment the user's `event_type` CHANGES; the open (current)
    * run lives in O(1) state until its closing change arrives, because an
    * append stream cannot retract an open-ended row. Events are ordered by
    * (epoch SECOND, event_id) — the batch twin's exact total order (the
    * batch query truncates to seconds before ordering), so run boundaries
    * are identical and parity over the closed intervals is exact for
    * in-order input.
    */
  def scd2Fn(
      userId: Long, events: Iterator[Event],
      state: GroupState[Scd2State]): Iterator[Scd2Closed] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
    val out = Seq.newBuilder[Scd2Closed]
    var st = state.getOption.orNull
    sorted.foreach { e =>
      val sec = e.ts.getTime / 1000
      if (st == null) st = Scd2State(e.event_type, sec, 1L)
      else if (st.runType != e.event_type) {
        out += Scd2Closed(userId, st.runType, st.runStart, sec, st.version)
        st = Scd2State(e.event_type, sec, st.version + 1)
      } // same type: the run just extends, nothing to emit or update
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** End-of-replay flush: the still-open run as the `is_current` interval
    * (batch `valid_to IS NULL` arm, valid_to encoded as None upstream). */
  def scd2Flush(userId: Long, st: Scd2State): Seq[(Long, String, Long, Long)] =
    Seq((userId, st.runType, st.runStart, st.version))

  // ---- Rolling trailing-window features, live ----

  /** Live trailing 1 d/7 d feature rows — streaming twin of
    * [[graft.ops.History.rollingUserFeatures]]. State is the user's
    * (sec, cents) events inside the last event's 7-day horizon — the same
    * bound the batch RANGE frame holds per partition. Equal-second events
    * are RANGE peers in the batch (each sees the whole peer group,
    * including later-id peers), so the machine processes each equal-second
    * GROUP atomically: append the group, evict, then emit every member
    * with the full group counted. In-order input (like the batch frame,
    * which is order-independent only up to its watermark).
    */
  def rollingFn(horizonSec: Long = 604800L, shortSec: Long = 86400L)(
      userId: Long, events: Iterator[Spend],
      state: GroupState[RollingState]): Iterator[RollingRow] = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
    var entries = state.getOption.getOrElse(RollingState(Nil)).entries
    val out = Seq.newBuilder[RollingRow]
    sorted.groupBy(e => e.ts.getTime / 1000).toSeq.sortBy(_._1).foreach {
      case (sec, group) =>
        entries = (entries ++ group.map(e =>
          (sec, e.cents))).filter(_._1 >= sec - horizonSec)
        val cnt7 = entries.size.toLong
        val cents7 = entries.iterator.map(_._2).sum
        val cnt1 = entries.count(_._1 >= sec - shortSec).toLong
        group.foreach(e =>
          out += RollingRow(e.event_id, userId, sec, cnt1, cnt7, cents7))
    }
    state.update(RollingState(entries))
    out.result().iterator
  }
}
