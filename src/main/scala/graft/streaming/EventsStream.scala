package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events feed (event_id, ts,
  * user_id, event_type, value, props).
  *
  * The reference is strictly batch (SURVEY §2.5 — streaming is ABSENT,
  * one file per run); this is the extension surface: the same event table
  * consumed as an unbounded stream. All transforms here take a streaming
  * DataFrame (from readStream / MemoryStream) and return one — they also
  * work verbatim on a batch frame (Analytics.hourlyEventRollup is the
  * batch twin of hourlyCounts, used for the DuckDB oracle).
  *
  * Watermark contract: only faces whose STATE consumes event-time
  * progress declare a watermark — windowed aggregates and
  * EventTimeTimeout sessions/dedup (state expiry), plus newVsReturning
  * (its openDays pruning reads getCurrentWatermarkMs, so its 1-hour
  * late-drop horizon is a stated part of that face's contract). The
  * other NoTimeout faces (SCD2, EWMA, attribution, trigrams, TWAP,
  * markov) deliberately declare NONE: their contract is
  * resume-whenever-the-user-returns, and a watermark would buy no
  * state expiry while making Spark silently drop events more than the
  * delay behind max event time BEFORE the stateful operator — a
  * divergence from the batch twin on out-of-order feeds. Cost of the
  * trade: per-batch input sorting is by (event-time, event_id), so a
  * genuinely late event within a trigger is still ordered correctly,
  * but one arriving triggers later applies to state as-of arrival (the
  * documented at-arrival semantics of every state face).
  */
object EventsStream {

  /** Epoch microseconds of `t`, exact to the microsecond — the
    * `unix_micros` every batch twin orders and gaps by.
    */
  private def toUs(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** The timestamp at `us` epoch microseconds, sub-millisecond part kept
    * (the inverse of [[toUs]]).
    */
  private def fromUs(us: Long): Timestamp = Timestamp.from(
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L))

  /** Watermarked tumbling-window aggregation: 1-hour windows, tolerating
    * 30 minutes of event-time lateness. State is bounded: windows older
    * than watermark - 30min are finalized and dropped.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("bucket_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window rate: 15-minute windows sliding by 5, per event type. */
  def slidingRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"))

  /** Streaming exact dedup on event_id with bounded state: duplicates
    * arriving within the watermark horizon are dropped, and per-key state
    * is evicted once the watermark passes it — the streaming twin of
    * Dedup.exact's hash-groupBy (which at-least-once sources need in
    * front of every downstream aggregate).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Rolling distinct users per event type: HLL++ register files as the
    * streaming aggregation state (complete mode — each trigger emits the
    * refreshed running estimates). An exact streaming countDistinct would
    * grow state with the USER DOMAIN — unbounded on a 100 TB feed; the
    * sketch pins state at one ~KB register file per event type forever,
    * the same trade [[graft.operators.Sketches.approxDistinctUsers]]
    * documents for batch (3σ·rsd bound, audited there against exact).
    * Merge across triggers is the HLL register-max — order-insensitive,
    * so replays and late data can only converge, never corrupt.
    */
  def distinctUsers(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))

  /** Stream-stream interval join: each event joined to the click events of
    * the SAME user within the preceding 10 minutes. Both sides watermarked
    * so the join state (buffered rows awaiting matches) is evicted once
    * event time passes the interval bound — the canonical bounded-state
    * stream-stream join shape.
    */
  def recentClickJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "30 minutes")
    events
      .withWatermark("ts", "30 minutes")
      .join(clicks,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("ts") - expr("INTERVAL 10 MINUTES") &&
          col("click_ts") < col("ts"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Long,
                                sumValue: Double)
  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Long,
                               sum_value: Double)

  /** Custom stateful sessionization: 30-minute-gap sessions per user via
    * flatMapGroupsWithState with event-time timeout. State per user is one
    * small record; timeouts flush idle sessions so state never grows
    * unboundedly — the pattern for arbitrary stateful ops at scale.
    *
    * Memory note (applies to every `rows.toSeq.sortBy` below):
    * flatMapGroupsWithState has no sorted variant in the public API
    * (unlike batch [[graft.operators.Analytics.throttleDedup]]'s
    * flatMapSortedGroups), so each op sorts its input slice. That slice is
    * ONE MICRO-BATCH's events for one key — bounded by the trigger
    * interval, never the key's full history, which lives compressed in the
    * state store. A per-trigger sort of a trigger-bounded slice is the
    * intended cost model for this API.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(st: SessionState): UserSession = UserSession(
            userId, fromUs(st.startUs), fromUs(st.lastUs), st.nEvents, st.sumValue)
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val us = toUs(e.ts)
              cur match {
                case Some(st) if us - st.lastUs <= gapUs =>
                  cur = Some(st.copy(lastUs = us, nEvents = st.nEvents + 1,
                    sumValue = st.sumValue + e.value))
                case Some(st) =>
                  closed ::= emit(st)
                  cur = Some(SessionState(us, us, 1, e.value))
                case None =>
                  cur = Some(SessionState(us, us, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000 + gapMinutes * 60000L)
            }
            closed.reverse.iterator
          }
      }
  }

  final case class Scd2State(curType: String, curFromUs: Long, version: Long)
  final case class ClosedInterval(user_id: Long, event_type: String,
                                  valid_from_us: Long, valid_to_us: Long,
                                  version: Long)

  /** Streaming SCD2 maintenance: the continuous form of
    * Analytics.scd2Intervals. Each user's state is the OPEN run (type,
    * from, version — one small record); a change record of a differing
    * type emits the prior run as a CLOSED validity interval and opens the
    * next. Append output carries closed intervals only — the open run is
    * by definition still mutable, which is exactly the batch operator's
    * is_current row; a consumer materializing the dimension unions the
    * closed stream with the state-of-now (or runs the batch builder over
    * the closed feed's tail). No timeout: dimension state IS the
    * product — bounded by live users, not by history.
    */
  def scd2(events: Dataset[Event]): Dataset[ClosedInterval] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, ClosedInterval](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[ClosedInterval]
          sorted.foreach { e =>
            val us = toUs(e.ts)
            cur match {
              case Some(st) if st.curType == e.event_type => // run continues
              case Some(st) =>
                closed += ClosedInterval(userId, st.curType, st.curFromUs, us, st.version)
                cur = Some(Scd2State(e.event_type, us, st.version + 1))
              case None =>
                cur = Some(Scd2State(e.event_type, us, 1L))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  final case class EwmaState(recentCents: List[Long])
  final case class EwmaPoint(user_id: Long, event_id: Long,
                             cents: Long, ewma_1e4: Long)

  /** Streaming twin of Analytics.ewmaUserValue: the decay-1/2 trailing-6
    * EWMA as flatMapGroupsWithState — per-user state is the last five
    * half-up cent values (five longs, constant), each arriving event
    * emits its smoothed point immediately, and the arithmetic is the
    * IDENTICAL integer form (power-of-two weights, half-up 1e-4
    * quotient), so the stream reproduces the batch operator bit-for-bit
    * on in-order feeds.
    */
  def ewma(events: Dataset[Event]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var recent = state.getOption.map(_.recentCents).getOrElse(Nil)
          val out = sorted.map { e =>
            val cents = math.floor(e.value * 100.0 + 0.5).toLong
            // weights 32,16,8,4,2,1 over (current :: last five), absent
            // lags contribute nothing to num or den — the batch form
            val lags = cents :: recent
            val (num, den) = lags.take(6).zipWithIndex.foldLeft((0L, 0L)) {
              case ((n, d), (c, i)) => (n + c * (32L >> i), d + (32L >> i))
            }
            recent = (cents :: recent).take(5)
            EwmaPoint(userId, e.event_id, cents, (20000L * num + den) / (2L * den))
          }
          state.update(EwmaState(recent))
          out.iterator
      }
  }

  final case class TouchState(first: String, last: String)
  final case class AttributedPurchase(user_id: Long, event_id: Long,
                                      first_channel: String,
                                      last_channel: String, cents: Long)

  /** Streaming twin of Analytics.firstTouchAttribution AND
    * lastTouchAttribution in one pass: per-user state is the first
    * channel touch ever plus the most recent one (two strings, constant
    * — the compressed sufficient statistic both models share), and each
    * purchase resolves against that state the moment it arrives, so the
    * acquisition/conversion revenue split updates per event instead of
    * per nightly window rebuild. Purchases before any touch credit
    * '(none)' exactly like the batch carry's null coalesce; revenue is
    * the same half-up cents. The per-channel rollup happens downstream
    * of the sink (a catalog-sized aggregate); StreamingSpec pins the
    * aggregated replay equal to BOTH batch operators over the same feed.
    *
    * State never expires (NoTimeout): a user's next purchase may come
    * months later and must still credit the original first touch —
    * attribution state IS the user's marketing history summary, two
    * strings per ever-active user, the same cardinality any identity
    * table already carries at warehouse scale.
    */
  def attribution(events: Dataset[Event]): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributedPurchase](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TouchState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var st = state.getOption.getOrElse(TouchState("(none)", "(none)"))
          val out = Seq.newBuilder[AttributedPurchase]
          sorted.foreach { e =>
            if (e.event_type == "purchase") {
              out += AttributedPurchase(userId, e.event_id, st.first, st.last,
                math.floor(e.value * 100.0 + 0.5).toLong)
            } else {
              st = TouchState(
                if (st.first == "(none)") e.event_type else st.first,
                e.event_type)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class ThrottleState(lastKeptUs: Long)
  final case class KeptEvent(user_id: Long, event_type: String,
                             event_id: Long, t_us: Long)

  /** Streaming twin of Analytics.throttleDedup: the rate-limiter
    * recurrence (keep only when > window after the last KEPT event per
    * (user, type)) as flatMapGroupsWithState — per-key state is ONE long.
    *
    * State eviction is LOSSLESS: the event-time timeout fires only once
    * the watermark passes lastKept + window, and any event arriving
    * after that horizon with ts above the watermark would have been kept
    * anyway (its gap from lastKept exceeds the window by construction) —
    * so dropping the state cannot flip a decision for in-horizon events.
    * Late events inside the lateness allowance share the standard
    * streaming-dedup caveat: arrival order is decision order.
    */
  final case class PendingSignup(event_id: Long, t_us: Long)
  final case class FunnelState(pending: List[PendingSignup])
  final case class ConversionOutcome(user_id: Long, signup_event_id: Long,
                                     signup_us: Long, converted: Boolean)

  /** Streaming twin of Analytics.conversionWindow: each signup resolves
    * to converted=true the moment a qualifying purchase (strictly after
    * it in (t, event_id) order, within the horizon) arrives, or to
    * converted=false once the event-time watermark passes its deadline —
    * so the funnel dashboard updates per event instead of per nightly
    * rebuild. Per-user state is the list of UNRESOLVED signups only
    * (resolved ones leave immediately; expiry is both timeout-driven and
    * inline for keys that keep receiving data), so state tracks in-flight
    * conversions, not history. Eviction is lossless for in-allowance
    * events: a purchase that could still convert a signup has ts below
    * the deadline, and the timeout only fires once the watermark —
    * which trails every deliverable event — passes that deadline.
    */
  def conversions(events: Dataset[Event],
                  windowDays: Int = 7): Dataset[ConversionOutcome] = {
    import events.sparkSession.implicits._
    val horizonUs = windowDays * 86400L * 1000000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, ConversionOutcome](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          val out = scala.collection.mutable.ListBuffer[ConversionOutcome]()
          var pending = state.getOption.map(_.pending).getOrElse(Nil)
          def expire(): Unit = if (state.getCurrentWatermarkMs() > 0) {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (expired, live) = pending.partition(p => p.t_us + horizonUs < wmUs)
            expired.foreach(p =>
              out += ConversionOutcome(user, p.event_id, p.t_us, converted = false))
            pending = live
          }
          if (state.hasTimedOut) expire()
          else {
            rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
              val us = toUs(e.ts)
              e.event_type match {
                case "signup" => pending = pending :+ PendingSignup(e.event_id, us)
                case "purchase" =>
                  // strictly-preceding signups only — the batch operator's
                  // 1-FOLLOWING frame; same-instant ties break on event_id
                  val (conv, live) = pending.partition(p =>
                    (p.t_us < us || (p.t_us == us && p.event_id < e.event_id)) &&
                      us - p.t_us <= horizonUs)
                  conv.foreach(p =>
                    out += ConversionOutcome(user, p.event_id, p.t_us, converted = true))
                  pending = live
                case _ => ()
              }
            }
            expire() // keys that keep receiving data never see their timeout
          }
          if (pending.isEmpty) state.remove()
          else {
            state.update(FunnelState(pending))
            // earliest unresolved deadline, +1ms so the timeout strictly passes it
            state.setTimeoutTimestamp(
              pending.map(p => (p.t_us + horizonUs) / 1000L).min + 1L)
          }
          out.iterator
      }
  }

  def throttle(events: Dataset[Event], windowHours: Int = 24): Dataset[KeptEvent] = {
    import events.sparkSession.implicits._
    val winUs = windowHours * 3600L * 1000000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[ThrottleState, KeptEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, String), rows: Iterator[Event], state: GroupState[ThrottleState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
            var lastKept = state.getOption.map(_.lastKeptUs).getOrElse(Long.MinValue)
            val kept = sorted.flatMap { e =>
              val us = toUs(e.ts)
              if (lastKept == Long.MinValue || us > lastKept + winUs) {
                lastKept = us
                Some(KeptEvent(key._1, key._2, e.event_id, us))
              } else None
            }
            if (lastKept != Long.MinValue) {
              state.update(ThrottleState(lastKept))
              state.setTimeoutTimestamp(lastKept / 1000 + winUs / 1000)
            }
            kept.iterator
          }
      }
  }

  final case class UserDayFlag(user_id: Long, day: String, is_new: Boolean)
  final case class FirstSeenState(firstDay: String, openDays: Seq[String])

  /** Streaming new-vs-returning classification: one flag per (user,
    * active day) — is_new marks the user's first-ever active day — the
    * streaming feed behind [[graft.operators.Analytics.newVsReturning]]'s
    * daily rollup (sum the flags by day and the batch readout falls out;
    * StreamingSpec pins that equality on the fixture).
    *
    * State per user is the first-seen day plus the set of OPEN emitted
    * days; a day is pruned once the watermark passes its end + the 1-hour
    * allowance, because an event for it would then be dropped upstream
    * anyway — so openDays is bounded by the watermark horizon (≤ 2 days
    * here), never the user's lifetime. The firstDay scalar itself must
    * live forever (a user returning after a year is returning, not new):
    * first-seen-ever is inherently per-user state — bytes per user; the
    * documented approximate alternative at extreme cardinality is a
    * Bloom filter of seen users (false positives = new users misread as
    * returning, at the sketch's rate).
    *
    * NoTimeout: eviction would FORGET users and re-mark them new. The
    * within-batch sort makes replay deterministic; emitted (user, day)
    * flags are append-once because openDays dedups within the horizon.
    */
  def newVsReturning(events: Dataset[Event]): Dataset[UserDayFlag] = {
    import events.sparkSession.implicits._
    val dayFmt = "yyyy-MM-dd"
    def dayOf(t: Timestamp): String =
      java.time.format.DateTimeFormatter.ofPattern(dayFmt)
        .withZone(java.time.ZoneOffset.UTC).format(t.toInstant)
    def dayEndMs(d: String): Long =
      java.time.LocalDate.parse(d).plusDays(1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    events
      // the ONE NoTimeout face that declares a watermark: openDays
      // pruning consumes getCurrentWatermarkMs, so the 1-hour late-drop
      // horizon is a stated part of this face's contract, not a stray
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FirstSeenState, UserDayFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[FirstSeenState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FirstSeenState("", Nil))
          val out = scala.collection.mutable.ArrayBuffer[UserDayFlag]()
          sorted.foreach { e =>
            val d = dayOf(e.ts)
            if (st.firstDay.isEmpty) st = st.copy(firstDay = d)
            if (!st.openDays.contains(d)) {
              out += UserDayFlag(user, d, d == st.firstDay)
              st = st.copy(openDays = st.openDays :+ d)
            }
          }
          val wmMs = state.getCurrentWatermarkMs()
          if (wmMs > 0)
            st = st.copy(openDays =
              st.openDays.filter(d => dayEndMs(d) + 3600000L >= wmMs))
          state.update(st)
          out.iterator
      }
  }

  /** The event-type domain this feed carries — pinned, like the pivot's
    * pinned status values, so the streaming drift aggregate has a fixed
    * schema (a data-dependent column set is not streamable).
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Streaming distribution-drift monitor: the streaming face of
    * [[graft.operators.Quality.typeDriftHourly]]. Each finalized 1-hour
    * window emits one row per observed event type with the SAME
    * exact-integer chi2 fixed point as the batch audit, computed against
    * a STAGED baseline (the frozen overall type mix — col_tot and n per
    * type). The baseline must be frozen for the same reason the streaming
    * dedup indexes freeze their quantizers: a moving reference would
    * re-score history every trigger.
    *
    * Shape: ONE watermarked aggregation per window (append mode allows no
    * second aggregation downstream), with the per-type counts as pinned
    * conditional sums in the same pass; the per-window total and the five
    * type counts come out of one state row, then unpivot via stack() and
    * the broadcast baseline join are stateless projections. State is
    * bounded by the watermark horizon.
    */
  def typeDrift(events: Dataset[Event], baseline: DataFrame): DataFrame = {
    val typeCounts = EventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"))
    val stackExpr = EventTypes.map(t => s"'$t', n_$t").mkString(", ")
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("row_tot"), typeCounts: _*)
      .select(col("window.start").as("hour_start"), col("row_tot"),
        expr(s"stack(${EventTypes.size}, $stackExpr) AS (event_type, obs)"))
      .filter(col("obs") > 0)
      .join(broadcast(baseline), Seq("event_type"))
      .withColumn("expected_1e4",
        expr("(row_tot * col_tot * 10000) DIV n"))
      .withColumn("chi2c_1e4",
        expr("""(abs(obs * 10000 - expected_1e4) * abs(obs * 10000 - expected_1e4))
                DIV (greatest(expected_1e4, 1) * 10000)"""))
      .select(col("hour_start"), col("event_type"), col("obs"),
        col("row_tot"), col("col_tot"), col("expected_1e4"), col("chi2c_1e4"))
  }

  /** Continuously maintained exact bitmap index: the streaming face of
    * [[graft.operators.Sketches.bitmapDistinctUsers]]/[[graft.operators.Sketches.bitmapOverlap]].
    * One complete-mode aggregation holds the per-(type, block, word)
    * `bit_or` fragments as state — the SAME relational bitmap the batch
    * operators build, refreshed per trigger. Streaming forbids a chained
    * second aggregation, so the popcount readout (distinct counts,
    * pairwise AND-overlap) runs downstream of the sink — which is where a
    * dashboard consumes the index anyway.
    *
    * State is bounded by touched-domain/64 words per type (exact, unlike
    * the HLL variant's constant-size-but-approximate registers; the
    * documented dense-integer-id trade). bit_or partials merge in the
    * state store exactly like sums — idempotent across triggers.
    */
  final case class TrigramState(last2: List[String])
  final case class TrigramHit(user_id: Long, event_id: Long,
                              e1: String, e2: String, e3: String)

  /** Streaming twin of Analytics.journeyTrigrams' sequence derivation:
    * per-user state is the last TWO event types (two short strings,
    * constant — the minimal sufficient statistic for trigram emission),
    * and every arriving event that has two predecessors emits its
    * completed trigram immediately. The top-K count rollup happens
    * downstream of the sink (map-side-combinable, exactly the batch
    * aggregate); StreamingSpec pins the aggregated replay equal to the
    * batch operator over the same feed, continuation across triggers
    * included (a trigram spanning a batch boundary must still emit —
    * that is precisely what the state carries).
    *
    * State never expires (NoTimeout): a user's journey resumes whenever
    * they return, and two strings per ever-active user is the same
    * cardinality as the attribution state above.
    */
  def journeyTrigrams(events: Dataset[Event]): Dataset[TrigramHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TrigramState, TrigramHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TrigramState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var last2 = state.getOption.map(_.last2).getOrElse(Nil) // newest first
          val out = sorted.flatMap { e =>
            val hit = last2 match {
              case b :: a :: _ =>
                Some(TrigramHit(userId, e.event_id, a, b, e.event_type))
              case _ => None
            }
            last2 = (e.event_type :: last2).take(2)
            hit
          }
          state.update(TrigramState(last2))
          out.iterator
      }
  }

  final case class HoldState(lastUs: Long, lastCents: Long)
  final case class HeldInterval(user_id: Long, cents: Long, dur_s: Long)

  /** Streaming face of the time-weighted average
    * ([[graft.operators.Analytics.timeWeightedValue]]): per-user state is
    * the OPEN hold (last event's micros + half-up cents — two longs, the
    * step function's sufficient statistic), and every arriving event
    * closes the previous hold, emitting (held cents, whole-second
    * duration) immediately. The TWAP rollup — sum(cents x dur) over
    * sum(dur), half-up 1e-4 — runs downstream of the sink, exactly the
    * batch aggregate; a hold spanning a trigger boundary still emits with
    * its full duration, which is precisely what the state carries.
    * StreamingSpec pins the two-batch replay rollup equal to the batch
    * operator.
    *
    * State never expires (NoTimeout): a billing meter must close a hold
    * whenever the user returns; two longs per ever-active user is the
    * attribution-state cardinality.
    */
  def twapIntervals(events: Dataset[Event]): Dataset[HeldInterval] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[HoldState, HeldInterval](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[HoldState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[HeldInterval]()
          sorted.foreach { e =>
            val tUs = toUs(e.ts)
            val cents = math.floor(e.value * 100d + 0.5d).toLong
            st.foreach { p =>
              out += HeldInterval(userId, p.lastCents, (tUs - p.lastUs) / 1000000L)
            }
            st = Some(HoldState(tUs, cents))
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  final case class MarkovState(prev: String, pos: Long, done: Boolean)
  final case class MarkovStep(user_id: Long, pos: Long, src: String,
                              dst: String)

  /** Streaming face of the Markov removal-effect attribution
    * ([[graft.operators.Analytics.markovAttribution]]): per-user state is
    * (previous journey state, position, converted?) — three scalars, the
    * minimal sufficient statistic of a first-order chain — and every
    * arriving event of a not-yet-converted user emits its transition
    * immediately (purchase maps to the absorbing CONV and closes the
    * journey; later events for that user are journey-external, exactly
    * the batch operator's cut-at-first-purchase contract).
    *
    * DROP terminals are deliberately NOT emitted: "this journey never
    * converts" is unknowable online. The readout derives them from each
    * user's LAST emitted step (dst <> CONV => one dst -> DROP terminal)
    * before running the shared value-iteration epilogue
    * ([[graft.operators.Analytics.markovFromTransitions]]) — the
    * cusumCells split: open-ended state resolves downstream, the stream
    * carries only per-event increments. StreamingSpec pins the two-batch
    * replay + readout equal to the batch operator.
    *
    * State never expires (NoTimeout): journeys resume whenever the user
    * returns; three scalars per ever-active user is the attribution-state
    * cardinality.
    */
  def markovSteps(events: Dataset[Event]): Dataset[MarkovStep] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MarkovState, MarkovStep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[MarkovState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var st = state.getOption.getOrElse(MarkovState("START", 0L, false))
          val out = scala.collection.mutable.ArrayBuffer[MarkovStep]()
          sorted.foreach { e =>
            if (!st.done) {
              val dst =
                if (e.event_type == "purchase") "CONV" else e.event_type
              out += MarkovStep(userId, st.pos + 1, st.prev, dst)
              st = MarkovState(dst, st.pos + 1, dst == "CONV")
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def bitmapIndex(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        expr("user_id DIV 4096").as("block"),
        expr("(user_id % 4096) DIV 64").as("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)))")
        .as("bits"))

  /** Daily revenue cells for the streaming CUSUM monitor: one state row
    * per event-time day holding the running half-up-cents sum —
    * complete-mode streaming state, maintained exactly like a batch
    * groupBy (sum partials merge in the state store; idempotent across
    * triggers). The CUSUM recurrence itself
    * ([[graft.operators.Analytics.cusumFromDaily]]) runs DOWNSTREAM of
    * the sink over the |days|-row readout — the same split as
    * [[bitmapIndex]]: inherently-global epilogues consume the state
    * table where the monitor reads it anyway, instead of contorting the
    * prefix recurrence into per-trigger incremental state (a mean shift
    * re-prices EVERY day's deviation, so the recurrence is not
    * incrementally maintainable — recompute-over-catalog-sized-readout
    * is the honest shape).
    *
    * State is bounded by distinct event-time days (a decade ≈ 3.6k
    * rows); at true unbounded horizons, age out closed days into a
    * compacted store and run the monitor over recent windows.
    */
  def cusumCells(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("cents"))

  /** Per-(user, type) first/last occurrence cells for the streaming
    * sequential-pattern monitor — complete-mode min/max aggregate state,
    * one row per touched (user, type) pair. Positions are (ts, event_id)
    * structs, order-isomorphic to the batch operator's per-user row
    * numbers, so the downstream pair-support epilogue
    * ([[graft.operators.Mining.seqPairsFromSpans]]) computes the exact
    * batch answer over the readout — the cusumCells split again: min/max
    * partials merge in the state store under any trigger boundary, and
    * the self-join readout (which a new occurrence of any type can
    * re-price) runs downstream over the users x types cells.
    *
    * State is bounded by |users| x |event types| — the same cardinality
    * as the attribution state; at true unbounded user churn, age out
    * long-idle users into a compacted store like the other per-user
    * monitors.
    */
  def seqSpanCells(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("first_pos"),
        max(struct(col("ts"), col("event_id"))).as("last_pos"))

  /** Per-type power-sum cells for the streaming distribution-shape
    * monitor — the ingest face of the batch moment profile
    * ([[graft.operators.Quality.momentProfile]]): five DECIMAL(38,0)
    * sums per event type as complete-mode aggregate state (power sums
    * ADD, so partials merge in the state store under any trigger
    * boundary — the exact mergeability the incremental batch face
    * proves), with the skew/kurtosis readout
    * ([[graft.operators.Quality.momentReadoutFromSums]]) running
    * downstream of the sink over the |types|-row cells. State is five
    * decimals per type, forever.
    */
  def momentCells(events: DataFrame): DataFrame = {
    val d = "CAST(x AS DECIMAL(38,0))"
    events
      .select(col("event_type"),
        expr("CAST(floor(value * CAST(10 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr(d)).as("s1"),
        sum(expr(s"$d * $d")).as("s2"),
        sum(expr(s"$d * $d * $d")).as("s3"),
        sum(expr(s"$d * $d * $d * $d")).as("s4"))
  }

  /** Per-type freshness cells for the streaming staleness monitor — the
    * ingest face of [[graft.operators.Quality.freshnessAudit]]: count +
    * max(event-time micros) per type as complete-mode state (both merge
    * exactly under any trigger boundary); the lag-behind-head readout
    * ([[graft.operators.Quality.freshnessFromCells]]) runs downstream
    * over the |types|-row cells, because the head moves with EVERY
    * event — per-trigger incremental lag maintenance would re-price all
    * rows anyway. State is two longs per type, forever.
    */
  def freshnessCells(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))

  /** Per-(event_type, day) KLL quantile-sketch cells for the streaming
    * value monitor — the ingest face of the batch quantile cube
    * ([[graft.operators.Sketches.quantileRollup]]): Spark's
    * `kll_sketch_agg_double` runs as complete-mode aggregation state, one
    * O(k log n) blob per touched cell forever (an exact streaming
    * percentile would buffer every value). Partials merge like any aggregate — KLL merge keeps the
    * rank bound under any merge tree — so a cell whose day straddles
    * triggers converges to a valid sketch of all its values, and the
    * per-type rollup + P50/P90/P99 readout (`kll_merge_agg_double` +
    * quantileReadout's audit) runs downstream of the sink over
    * catalog-sized blobs, never the feed.
    */
  def quantileCells(events: DataFrame, k: Int = 200): DataFrame =
    events
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(expr(s"kll_sketch_agg_double(value, $k)").as("sk"))

  /** Hour-of-week traffic cells for the streaming seasonal monitor: one
    * state row per (day, dow, hour) — complete-mode count state, the same
    * split as [[cusumCells]]: the dense-grid + baseline readout
    * ([[graft.operators.Quality.seasonalFromCells]], shared with the
    * batch operator) runs downstream of the sink, because a new day
    * shifts every (dow, hour) baseline denominator — not incrementally
    * maintainable per trigger, and catalog-sized to recompute.
    */
  def seasonalCells(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"))

  /** Staged baseline for [[typeDrift]]: the frozen overall type mix
    * (col_tot per type, n total) from a batch snapshot of the feed.
    */
  def typeBaseline(events: DataFrame): DataFrame = {
    val byType = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("col_tot"))
    byType.crossJoin(
      org.apache.spark.sql.functions.broadcast(
        byType.agg(sum(col("col_tot")).as("n"))))
  }
}
