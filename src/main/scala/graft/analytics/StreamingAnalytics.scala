package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One in-flight gap session of [[StreamingAnalytics.sessionizeStream]]'s
  * per-key state (bounds: open sessions only — closed ones leave the
  * store the micro-batch they emit). */
final case class OpenSession(start: Long, end: Long, n: Long)

/** A closed gap session — emitted once, when the watermark passes the
  * session's last possible extension (`end + gap`). Column names match
  * [[Analytics.sessionize]]'s batch output (minus the per-user ordinal,
  * which has no stable meaning under append-mode emission). */
final case class ClosedSession(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Long, duration_us: Long)

/** One in-flight gap session of
  * [[StreamingAnalytics.sessionCensusStream]]'s per-key state —
  * [[OpenSession]] plus the session's ENTRY event (its (t, id)-least
  * member), tracked through merges so the census can key on what the
  * session opened with. */
final case class OpenSessionEntry(start: Long, end: Long, n: Long,
    entryT: Long, entryId: Long, entryTy: String)

/** A closed gap session with its entry type — emitted once, when the
  * watermark passes `end + gap`. Rolling these up by `entry_type`
  * (bounce = `n_events == 1`) reproduces
  * [[Analytics.sessionBounceRate]] (q236) on the same ripe events. */
final case class ClosedSessionEntry(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Long, duration_us: Long,
    entry_type: String)

/** One in-flight gap session of
  * [[StreamingAnalytics.sessionTypesStream]]'s per-key state — the
  * session bounds plus its DISTINCT event-type set (sorted;
  * vocabulary-bounded, so state stays small however long the session
  * runs). */
final case class OpenSessionTypes(start: Long, end: Long, n: Long,
    types: List[String])

/** A closed gap session with its distinct type set — emitted once,
  * when the watermark passes `end + gap`. Feeding these to
  * [[StreamingAnalytics.sessionPairLiftRollup]] reproduces
  * [[Analytics.sessionPairLift]] (q218) on the same ripe events. */
final case class ClosedSessionTypes(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Long, types: Seq[String])

/** One (t, id) event stamp of
  * [[StreamingAnalytics.abandonmentStream]]'s per-user state — a
  * pending fromType event awaiting its verdict, or a retained toType
  * event that may still rescue one. */
final case class EventStamp(t: Long, id: Long)

/** One step-event stamp of
  * [[StreamingAnalytics.sessionFunnelStream]]'s per-session state:
  * the event time plus its 1-based step index (non-step events leave
  * no stamp — only the session bounds see them). */
final case class StepStamp(t: Long, idx: Long)

/** One in-flight gap session of
  * [[StreamingAnalytics.sessionFunnelStream]]'s per-key state — the
  * session bounds over ALL events plus the STEP events' stamps (the
  * greedy fold is order-sensitive, so stamps buffer until the session
  * closes; state is bounded by min(session's step-event volume,
  * 2·`maxStamps`) — `trunc` records that the cap dropped stamps,
  * making the close-time fold a prefix fold (see [[StreamingAnalytics
  * .sessionFunnelStream]] for why the prefix is deterministic).
  * `ns` counts the buffered stamps so a combine never pays an O(n)
  * `size` walk. */
final case class OpenSessionSteps(start: Long, end: Long, n: Long,
    stamps: List[StepStamp], trunc: Boolean = false, ns: Int = 0)

/** One (t, id, type) event stamp of
  * [[StreamingAnalytics.sessionPathsStream]]'s per-session state — the
  * path render is order-sensitive, so every event buffers until the
  * session closes (the batch operator's own per-session collect_list
  * bound). */
final case class PathStamp(t: Long, id: Long, ty: String)

/** One in-flight gap session of
  * [[StreamingAnalytics.sessionPathsStream]]'s per-key state. Stamps
  * hold at most 2·`maxStamps` events, always including the
  * (t, id, ty)-least `maxStamps`; `trunc` records that the cap dropped
  * stamps, and the rendered path then carries an explicit `>…`
  * truncation marker. `ns` counts the buffered stamps so a combine
  * never pays an O(n) `size` walk. */
final case class OpenSessionPath(start: Long, end: Long, n: Long,
    stamps: List[PathStamp], trunc: Boolean = false, ns: Int = 0)

/** A closed gap session with its ordered `>`-joined type path —
  * emitted once, at watermark ripening.
  * [[StreamingAnalytics.sessionPathsRollup]] over these reproduces
  * [[Analytics.sessionPaths]] (q197) on the same ripe events. */
final case class ClosedSessionPath(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Long, path: String)

/** A closed gap session with its funnel result — the furthest step
  * reached by the greedy earliest-advance fold over the session's
  * (t, idx)-ordered step events (0 = reached none). Rolling these up
  * with [[StreamingAnalytics.sessionFunnelRollup]] reproduces
  * [[Analytics.sessionFunnel]] (q186) on the same ripe events.
  * `truncated` surfaces the `maxStamps` cap: when true, `max_step` is
  * the PREFIX fold's exact state after the kept step events — a lower
  * bound on the untruncated result — so a downstream consumer can
  * count, exclude, or alert on capped sessions instead of silently
  * folding a bound into an exact census (the funnel analog of the
  * paths `>…` marker). */
final case class ClosedSessionFunnel(user_id: Long,
    session_start_us: Long, session_end_us: Long, n_events: Long,
    max_step: Long, truncated: Boolean = false)

/** [[StreamingAnalytics.abandonmentStream]] state: fromType events
  * whose budget window the watermark has not yet passed, plus toType
  * events still above the usefulness horizon (a to can only rescue
  * froms at-or-before it, and live froms sit within `windowUs` of the
  * watermark — older tos can never matter again). */
final case class AbandonState(pending: List[EventStamp],
    seenTo: List[EventStamp])

/** One fromType event's final verdict — emitted exactly once, when the
  * watermark passes `t + windowUs` (nothing that could still arrive
  * can rescue or re-rescue it). Rolling these up reproduces
  * [[Analytics.abandonmentCensus]] (q241) on the same ripe events —
  * see [[StreamingAnalytics.abandonmentRollup]]. */
final case class AbandonVerdict(user_id: Long, event_id: Long,
    from_us: Long, abandoned: Boolean)

/** [[StreamingAnalytics.growthAccountingStream]] state: the durable
  * per-user carry — has the user EVER had a ripe active day, the most
  * recent ripe active day, whether that day's churn-out has already
  * been emitted — plus the not-yet-ripe active-day buffer. The carry
  * is three scalars forever (the attribution-carry precedent: growth
  * accounting is exactly the operator that must remember a user across
  * any silence to tell resurrection from new). */
final case class GrowthState(everActive: Boolean,
    lastActive: Option[Long], churnEmitted: Boolean,
    pending: List[Long])

/** One (user, day) growth event — `cls` ∈ `new` / `retained` /
  * `resurrected` (the user's classification for an ACTIVE day) or
  * `churned` (the user was active the previous day and provably not
  * this one). Emitted exactly once, when the day COMPLETES below the
  * watermark. [[StreamingAnalytics.growthRollup]] over these
  * reproduces [[Analytics.growthAccounting]] (q219) on the same ripe
  * events. */
final case class GrowthEvent(user_id: Long, day_num: Long, cls: String)

/** One buffered event of [[StreamingAnalytics.attributionStream]]'s
  * per-user state (events newer than the watermark — an earlier event
  * could still arrive and change what "preceding touch" means). */
final case class PendingEvent(t: Long, id: Long, ty: String, value: Double)

/** [[StreamingAnalytics.attributionStream]] state: the last touch type
  * at-or-below the watermark frontier, plus the not-yet-ripe buffer. */
final case class AttributionState(lastTouch: Option[String],
    pending: List[PendingEvent])

/** One attributed conversion — emitted exactly once, when the watermark
  * passes the conversion's event time (so no earlier touch can still
  * arrive). Matches [[Analytics.attributionLastTouch]]'s credit rule at
  * per-conversion grain. */
final case class AttributedConversion(user_id: Long, event_id: Long,
    touch_type: String, value: Double)

/** [[StreamingAnalytics.attributionLinearStream]] state: the OPEN
  * segment's per-touch-type counts (touches since the user's last ripe
  * conversion), plus the not-yet-ripe buffer. */
final case class LinearAttributionState(touchCounts: Map[String, Long],
    pending: List[PendingEvent])

/** One (conversion, touch type) credit of linear multi-touch
  * attribution — emitted exactly once when the conversion ripens.
  * `credit_micros` = `n_touches × ⌊value_micros / segment_size⌋`, the
  * batch [[Analytics.attributionLinear]] split at per-conversion
  * grain. */
final case class LinearCredit(user_id: Long, conv_event_id: Long,
    touch_type: String, n_touches: Long, credit_micros: Long)

/** The last ripe event of [[StreamingAnalytics.transitionsStream]]'s
  * per-user state — the FROM side of the user's next transition. */
final case class LastTyped(t: Long, id: Long, ty: String)

/** [[StreamingAnalytics.transitionsStream]] state: the open left
  * endpoint plus the not-yet-ripe buffer (the TWAP state shape with a
  * type instead of a value). */
final case class TransitionState(last: Option[LastTyped],
    pending: List[PendingEvent])

/** One user-journey transition edge — emitted exactly once, when its
  * right endpoint (the `to` event) ripens below the watermark: at that
  * instant nothing can still land between the two endpoints, so the
  * adjacency is final. Counting these by (from_type, to_type)
  * reproduces [[Analytics.eventTransitions]] (q137) on the same ripe
  * prefix — the live-updating first-order Markov edge stream. */
final case class TransitionEdge(user_id: Long, from_type: String,
    to_type: String, to_us: Long, to_event_id: Long)

/** The last ripe sample of [[StreamingAnalytics.twapStream]]'s per-user
  * state — the open interval's left endpoint. */
final case class LastSample(t: Long, id: Long, vmic: Long)

/** [[StreamingAnalytics.twapStream]] state: the open interval's left
  * endpoint plus the not-yet-ripe buffer. */
final case class TwapState(last: Option[LastSample],
    pending: List[PendingEvent])

/** One CLOSED holding interval of the time-weighted average — emitted
  * exactly once, when its right endpoint ripens: the value
  * `value_micros` held from `start_us` for `duration_us`. Summing
  * `value_micros × duration_us` (decimal) over a user's intervals and
  * floor-dividing by `Σ duration_us` reproduces
  * [[Analytics.timeWeightedAverage]] exactly. */
final case class TwapInterval(user_id: Long, start_us: Long,
    value_micros: Long, duration_us: Long)

/** Streaming materialized-view equivalents (ST12): the daily summary MV
  * (`init.sql:195-206`) as a watermarked tumbling-window aggregation —
  * the same GROUP BY shape the batch variant uses, but incremental.
  *
  * State sizing at scale: one state row per (window, status) — bounded
  * by (days-in-watermark × statuses), not by input volume; the
  * watermark expires state past the lateness bound (ST4).
  */
object StreamingAnalytics {

  /** Fail-loud ceiling on one key's OPEN-session list in the shared
    * gap-session fold — a corrupt-event-time tripwire, not a tuning
    * knob (see the [[ripenGapSessions]] scaladoc). 10 000 concurrent
    * open sessions on a single user inside one lateness window cannot
    * come from a healthy stream. */
  val MaxOpenSessions: Int = 10000

  /** Default per-open-session stamp-buffer cap for the two census
    * operators that must buffer events until a session closes
    * ([[sessionPathsStream]], [[sessionFunnelStream]]). The buffer
    * holds at most 2× this (the amortization headroom); at ~40 bytes a
    * stamp that bounds one pathological key (a bot that never gaps, a
    * sub-gap heartbeat) to ~8 MB of state instead of unbounded growth;
    * real sessions sit orders of magnitude below it. The emitted
    * result always derives from the (t, …)-least `maxStamps` stamps —
    * the deterministic fold-order PREFIX of the session — and
    * truncation is surfaced explicitly (paths append a `>…` marker;
    * the funnel emits a `truncated` column marking its prefix fold). */
  val DefaultMaxStamps: Int = 100000

  /** Upper bound on a caller-supplied `maxStamps`: 100 M stamps is a
    * ~4 GB single state value — already far past anything an executor
    * survives — and the ceiling keeps every internal count (`ns`,
    * `h.ns + s.ns`, `2·maxStamps`) comfortably inside Int, so a
    * "make it effectively unlimited" flag value cannot overflow the
    * cut test into marking every session truncated. */
  val MaxStampsCeiling: Int = 100000000

  /** Tumbling-window order/event rollup over a streaming frame. */
  def windowedRollup(stream: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLength: String = "1 day",
      watermark: String = "1 day"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("win"), col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("total"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
      .select(
        col("win.start").as("window_start"),
        col(keyCol), col("n"), col("total"), col("min_value"), col("max_value"))

  /** Gap-based sessionization (extended surface; event-stream staple):
    * events of one key belong to one session while consecutive gaps stay
    * UNDER `gap`; a gap ≥ `gap` opens a new session (Spark session
    * windows are [start, last_event + gap) — exclusive end). Works on
    * batch frames directly and on streams with a watermark upstream;
    * state per in-flight session only. */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, gap: String = "30 minutes"): DataFrame =
    df.groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(
        col(keyCol),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("total_value"))

  /** The ONE home of the gap-session state discipline every session
    * stream shares ([[sessionizeStream]], [[sessionCensusStream]],
    * [[sessionTypesStream]], [[sessionFunnelStream]] — forked copies
    * would let their session definitions silently diverge, the
    * [[Analytics]] gap-tag lesson): merge prior open sessions with the
    * batch's incoming singletons interval-style (chain while the next
    * start is within `gapUs` of the running end — ≤ merges, the batch
    * rule), close everything whose last possible extension point
    * (`end + gapUs`) sits below the watermark, store the rest, and
    * re-arm the event-time timeout at the earliest open close point
    * (ms-ceiling'd past the µs bound, clamped above the current
    * watermark — Spark rejects a timeout at-or-before it). Returns the
    * CLOSED sessions; the caller only supplies how to read bounds and
    * how to combine two chained fragments.
    *
    * State-bound tripwire: a key's open list is normally bounded by
    * its concurrent open sessions inside the lateness window, but a
    * watermark configured (or corrupted) to lag the data by far more
    * than the gap lets sessions pile up unclosable — each one a
    * permanent state-store resident. Two ceilings, both FAIL LOUD:
    * past [[StreamingAnalytics.MaxOpenSessions]] only when the
    * overflow PERSISTS (over the cap when last stored AND still over
    * it after this invocation's ripening opportunity — a coarse
    * backfill batch that transiently holds many genuinely-gapped
    * sessions open behind the one-batch watermark lag stores once,
    * ripens at the next advance, and never trips), and past 10× the
    * cap IMMEDIATELY (no healthy single batch opens that many
    * unclosable sessions on one key, and storing them would plant the
    * deserialize-whole OOM before a second sighting). Worst residual:
    * a key over the soft cap that is never touched again keeps its
    * stored list (≤ 10×cap ≈ a few MB) until its event-time timeout
    * fires — bounded, and the timeout ripens it whenever the watermark
    * moves at all. The fix is upstream (the event-time column or the
    * watermark-delay-to-gap ratio), never a bigger cap. */
  private def ripenGapSessions[S](prior: List[S], incoming: List[S],
      gapUs: Long, state: GroupState[List[S]])(
      start: S => Long, end: S => Long,
      combine: (S, S) => S): List[S] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val merged = (prior ++ incoming).sortBy(x => (start(x), end(x)))
      .foldLeft(List.empty[S]) { (acc, x) =>
        acc match {
          case h :: t if start(x) - end(h) <= gapUs => combine(h, x) :: t
          case _ => x :: acc
        }
      }.reverse
    val (closed, open) = merged.partition(x => end(x) + gapUs < wmUs)
    // two ceilings: a SOFT one (MaxOpenSessions) that fires only when
    // the overflow persists across a ripening opportunity — one batch
    // of a coarse backfill may transiently exceed it behind the
    // one-batch watermark lag and stores once — and a HARD one (10×)
    // that fires immediately: a single batch opening that many
    // unclosable sessions on ONE key is never a healthy backfill, and
    // storing it would plant a hundreds-of-MB single state value (the
    // deserialize-whole OOM) before any second sighting could object.
    val persistent =
      prior.size > MaxOpenSessions && open.size > MaxOpenSessions
    if (persistent || open.size > 10 * MaxOpenSessions)
      throw new IllegalStateException(
        s"ripenGapSessions: ${open.size} open sessions on one key " +
          (if (persistent)
            s"still exceed MaxOpenSessions=$MaxOpenSessions after a " +
              "ripening opportunity"
          else
            s"exceed the hard ceiling ${10 * MaxOpenSessions} in a " +
              "single batch") +
          s" (watermark ${wmUs}us). The watermark is lagging the data " +
          "by far more than the session gap — a corrupt event-time " +
          "column (seconds/millis/micros unit bug), or a watermark " +
          "delay configured orders of magnitude above the gap — and " +
          "the state store would grow without bound. Fix the " +
          "event-time column or the delay-to-gap ratio; do not raise " +
          "the cap. If this is a legitimate coarse backfill (one huge " +
          "file holding a key's multi-year history in a single " +
          "micro-batch), bound the batch instead — set " +
          "maxFilesPerTrigger / maxOffsetsPerTrigger so gapped " +
          "sessions get a watermark advance to ripen between batches.")
    if (open.isEmpty) state.remove()
    else {
      state.update(open)
      val fire = open.map(end(_) + gapUs).min / 1000L + 2L
      state.setTimeoutTimestamp(
        math.max(fire, state.getCurrentWatermarkMs() + 1L))
    }
    closed
  }

  /** Streaming gap-based sessionization — [[Analytics.sessionize]]'s
    * batch semantics (events of one user chain into a session while
    * consecutive gaps stay ≤ `gapUs`; a strictly larger gap opens a new
    * session) emitted INCREMENTALLY from an unbounded stream: a session
    * is emitted exactly once, in the micro-batch whose watermark passes
    * its last possible extension point (`end + gapUs`) — after that no
    * in-watermark event can chain into it, so the emission is final
    * (append-mode exactly-once, the property a retractable aggregation
    * can't give a downstream sink).
    *
    * Built on `flatMapGroupsWithState` with an EVENT-TIME timeout (the
    * custom-state shape the reference has no analog for — SURVEY §2.9):
    * per user the state holds only OPEN sessions as (start, end, count)
    * triples — out-of-order events within the watermark merge interval-
    * style, so state is bounded by the user's concurrent open sessions
    * inside the lateness window, never by history length. The timeout
    * re-arms at the earliest open session's close point, so sessions
    * close on WATERMARK PROGRESS even when their user goes silent — the
    * failure mode of a data-triggered-only design (a user who stops
    * emitting would pin state forever).
    *
    * Scale shape: one key shuffle per micro-batch (the groupByKey), a
    * per-key state lookup against the state store (RocksDB-backed under
    * the streaming CLI's config), no window over history. `tsCol` must
    * be a TimestampType column (the watermark anchor). */
  def sessionizeStream(events: DataFrame, userCol: String, tsCol: String,
      gapUs: Long, watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val spark = events.sparkSession
    import spark.implicits._
    // the WATERMARKED timestamp column itself must reach the stateful
    // operator (projecting it to a long would strip the watermark tag
    // and Spark rejects the event-time timeout); micros conversion
    // happens inside the function
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"))
      .as[(Long, java.time.Instant)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSession], ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant)],
         state: GroupState[List[OpenSession]]) =>
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            OpenSession(t, t, 1L)
          }.toList
          ripenGapSessions(state.getOption.getOrElse(Nil), incoming,
            gapUs, state)(_.start, _.end, (h, s) =>
            OpenSession(h.start, math.max(h.end, s.end), h.n + s.n))
            .iterator.map(s =>
              ClosedSession(u, s.start, s.end, s.n, s.end - s.start))
      }
  }

  /** Streaming SESSION CENSUS — [[sessionizeStream]] extended with the
    * entry event, the seed of every session-grain census: each closed
    * session carries the TYPE of its (t, id)-least event, so a
    * downstream rollup by `entry_type` reproduces the batch
    * [[Analytics.sessionBounceRate]] (q236) on the same ripe events —
    * see [[sessionBounceRollup]] for that exact fold. Sessions chain
    * while gaps stay ≤ `gapUs` (the [[Analytics.sessionize]] /
    * gap-session-tag boundary rule: a STRICTLY larger gap opens a new
    * session) and emit append-mode, EXACTLY ONCE, when the watermark
    * passes `end + gapUs`.
    *
    * The entry survives out-of-order arrival: every incoming event
    * starts as a singleton session that IS its own entry, and a merge
    * keeps the (entryT, entryId)-least of the two fragments — so a
    * late-but-in-watermark event that extends a session backwards (or
    * bridges two fragments) correctly takes over as the entry.
    *
    * State per user: OPEN sessions only (closed ones leave the store
    * the micro-batch they emit), bounded by concurrent open sessions
    * inside the lateness window; the event-time timeout re-arms at the
    * earliest open close point so sessions ripen on watermark progress
    * even when the user goes silent — [[sessionizeStream]]'s exact
    * discipline, with the entry triple riding along. */
  def sessionCensusStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, gapUs: Long,
      watermark: String = "10 minutes"): Dataset[ClosedSessionEntry] = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked TimestampType column itself must reach the
    // stateful operator (a long projection strips the watermark tag)
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"),
        col(typeCol).cast("string").as("ty"))
      .as[(Long, java.time.Instant, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSessionEntry], ClosedSessionEntry](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, String)],
         state: GroupState[List[OpenSessionEntry]]) =>
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            OpenSessionEntry(t, t, 1L, t, r._3, r._4)
          }.toList
          // the shared fold, with the entry carried as the
          // (t, id, ty)-least member of the merged span — the type as
          // third tie-break mirrors the batch min(struct(__t, __id,
          // __ty)) exactly, so even degenerate duplicate input (two
          // events sharing timestamp AND id) picks the same entry type
          ripenGapSessions(state.getOption.getOrElse(Nil), incoming,
            gapUs, state)(_.start, _.end, (h, s) => {
              val entryLeast =
                if (s.entryT < h.entryT ||
                  (s.entryT == h.entryT && (s.entryId < h.entryId ||
                    (s.entryId == h.entryId && s.entryTy < h.entryTy)))) s
                else h
              OpenSessionEntry(h.start, math.max(h.end, s.end),
                h.n + s.n, entryLeast.entryT, entryLeast.entryId,
                entryLeast.entryTy)
            })
            .iterator.map(s =>
              ClosedSessionEntry(u, s.start, s.end, s.n, s.end - s.start,
                s.entryTy))
      }
  }

  /** The q236 fold over [[sessionCensusStream]]'s closed sessions: a
    * batch-shape rollup (run it in `foreachBatch` over an appended
    * sink table, or on any frame of [[ClosedSessionEntry]] rows)
    * producing EXACTLY [[Analytics.sessionBounceRate]]'s output —
    * `(entry_type, n_sessions, n_bounces, bounce_ppm)`, floored ppm —
    * so streaming and batch censuses are directly comparable. Both
    * run the one fold, [[Analytics.bounceFold]].
    *
    * Scale shape: vocabulary-bounded hash agg with map-side partials;
    * the ppm render is exact integer. */
  def sessionBounceRollup(closedSessions: DataFrame): DataFrame =
    Analytics.bounceFold(closedSessions, "n_events")

  /** Streaming session TYPE-SET builder — the state [[Analytics
    * .sessionPairLift]] (q218) needs at session grain: each closed gap
    * session carries its DISTINCT event-type set, so the association
    * statistics (support/confidence/lift) roll up downstream from
    * sessions alone — see [[sessionPairLiftRollup]] for the exact
    * batch-parity fold. Boundary rule and emission discipline are
    * [[sessionizeStream]]'s (chain while gaps ≤ `gapUs`; append-mode,
    * exactly-once at watermark ripening; open-session-only state with
    * an event-time timeout re-armed at the earliest close point).
    *
    * A type SET is order-independent, so this needs no id column and
    * no in-state buffer at all: out-of-order events within the
    * watermark merge as set unions, which commute — the simplest of
    * the session family's states. Per-session state is bounded by the
    * type VOCABULARY (never the session's event count). */
  def sessionTypesStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, gapUs: Long,
      watermark: String = "10 minutes"): Dataset[ClosedSessionTypes] = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked TimestampType column itself must reach the
    // stateful operator (a long projection strips the watermark tag)
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(typeCol).cast("string").as("ty"))
      .as[(Long, java.time.Instant, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSessionTypes], ClosedSessionTypes](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, String)],
         state: GroupState[List[OpenSessionTypes]]) =>
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            OpenSessionTypes(t, t, 1L, List(r._3))
          }.toList
          // the shared fold; type sets union (sorted-distinct keeps the
          // stored state canonical and the emitted array stable)
          ripenGapSessions(state.getOption.getOrElse(Nil), incoming,
            gapUs, state)(_.start, _.end, (h, s) =>
            OpenSessionTypes(h.start, math.max(h.end, s.end), h.n + s.n,
              (h.types ++ s.types).distinct.sorted))
            .iterator.map(s =>
              ClosedSessionTypes(u, s.start, s.end, s.n, s.types))
      }
  }

  /** The q218 fold over [[sessionTypesStream]]'s closed sessions:
    * association statistics for within-session type pairs — EXACTLY
    * [[Analytics.sessionPairLift]]'s output (`type_a, type_b,
    * n_sessions, support_ppm, conf_a_to_b_ppm, conf_b_to_a_ppm,
    * lift_ppm`, floored integer ppm with DECIMAL(38,0)
    * cross-multiplication) computed from the emitted session frames,
    * so streaming and batch statistics are directly comparable. Run it
    * in `foreachBatch` over an appended sink table, or on any batch
    * frame of [[ClosedSessionTypes]] rows. Both run the one final
    * fold, [[Analytics.pairLiftFold]].
    *
    * Scale shape: the pair generation is a DOUBLE EXPLODE over each
    * session's (already-distinct, vocabulary-bounded) type array —
    * types²-per-session fan-out with no self-join at all (the batch
    * operator needs the (session, type) self-join because its input
    * is events; here the sessions arrive pre-collapsed). Per-type
    * counts and the 1-row total are broadcasts. The three passes scan
    * the input WITHOUT a checkpoint — deliberately: the input is the
    * already-collapsed session relation (cheap to rescan), and a
    * localCheckpoint here would pin one RDD per `foreachBatch`
    * invocation with no release point — a storage leak on a stream. */
  def sessionPairLiftRollup(closedSessions: DataFrame): DataFrame = {
    val base = closedSessions.select(col("types"))
    val pairs = base
      .select(explode(col("types")).as("type_a"), col("types"))
      .select(col("type_a"), explode(col("types")).as("type_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_sessions"))
    val perType = base.select(explode(col("types")).as("__ty"))
      .groupBy("__ty").agg(count(lit(1)).as("__nt"))
    val total = base.agg(count(lit(1)).as("__ns"))
    Analytics.pairLiftFold(pairs, perType, total)
  }

  /** Streaming session-scoped funnel — the incremental counterpart of
    * [[Analytics.sessionFunnel]] (q186): each closed gap session
    * carries the furthest funnel step its events reached under the
    * batch operator's EXACT greedy fold (step events sorted by
    * (t, step-index), a step advances only on the next index at a
    * STRICTLY later time), emitted append-mode, exactly once, at
    * watermark ripening. [[sessionFunnelRollup]] turns the emitted
    * sessions into the batch report.
    *
    * The state shape is the family's most general: session bounds
    * merge over ALL events (a non-step event still chains the session
    * — the batch rule: the gap tag sees everything, the fold sees only
    * steps), while the step events BUFFER as (t, idx) stamps until the
    * session closes, because the greedy fold is order-sensitive and an
    * in-watermark straggler can change the outcome. State per open
    * session is min(step-event volume, 2·`maxStamps`) — the batch
    * operator's per-session sorted-array bound, CAPPED so one
    * pathological never-gapping key cannot grow its state-store entry
    * without bound (the 2× headroom lets the sort-truncate amortize to
    * O(log maxStamps) per event instead of running per combine at the
    * cap).
    *
    * Truncation semantics at the cap: the close-time fold runs over
    * the (t, idx)-LEAST `maxStamps` stamps. The true least-k always
    * survive a truncate-to-least-k of any superset, so whatever order
    * fragments merge (and whenever the amortized cut fires), the
    * emitted result is computed over exactly the first `maxStamps`
    * step events in the fold's own processing order — a PREFIX fold
    * whose `max_step` is the fold's true state after those events, a
    * lower bound on the untruncated result, SURFACED via the
    * `truncated` output column. A session with 100k+ step events is
    * bot traffic, not a funnel candidate; the default cap keeps it
    * from OOMing an executor while leaving every real session exact.
    *
    * No id column: the batch fold orders by (t, step-index) only (ties
    * at one timestamp process lower indices first), and gap boundaries
    * depend on timestamps alone. */
  def sessionFunnelStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, steps: Seq[String], gapUs: Long,
      watermark: String = "10 minutes",
      maxStamps: Int = DefaultMaxStamps): Dataset[ClosedSessionFunnel] = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    require(maxStamps >= 1 && maxStamps <= MaxStampsCeiling,
      s"maxStamps must be in [1, $MaxStampsCeiling], got $maxStamps")
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct, got $steps")
    val stepIdx = steps.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(typeCol).cast("string").as("ty"))
      .as[(Long, java.time.Instant, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSessionSteps], ClosedSessionFunnel](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, String)],
         state: GroupState[List[OpenSessionSteps]]) =>
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            val st = stepIdx.get(r._3).map(StepStamp(t, _)).toList
            OpenSessionSteps(t, t, 1L, st, trunc = false, ns = st.size)
          }.toList
          // the shared fold over ALL events. The cap is AMORTIZED:
          // concat puts the smaller fragment left (it shares the big
          // side's tail — O(min) per combine, never O(buffer)), the
          // stamp count rides in `ns` (no O(n) size walks), and the
          // sort-truncate fires only past 2×maxStamps, cutting back to
          // maxStamps — O(log maxStamps) per event amortized, instead
          // of a full sort per combine once a bot key reaches the cap.
          // Keeping the (t, idx)-least maxStamps is safe under ANY cut
          // schedule: the true least-k always survive a
          // truncate-to-least-k of a superset, so the close-time
          // take(maxStamps) below is deterministic.
          ripenGapSessions(state.getOption.getOrElse(Nil), incoming,
            gapUs, state)(_.start, _.end, (h, s) => {
            val total = h.ns + s.ns
            val cat =
              if (s.ns <= h.ns) s.stamps ++ h.stamps
              else h.stamps ++ s.stamps
            val cut = total.toLong > 2L * maxStamps
            val kept =
              if (cut) cat.sortBy(e => (e.t, e.idx)).take(maxStamps)
              else cat
            OpenSessionSteps(h.start, math.max(h.end, s.end),
              h.n + s.n, kept, h.trunc || s.trunc || cut,
              if (cut) maxStamps else total)
          })
            .iterator.map { s =>
            // the batch funnelFold exactly: (t, idx)-ascending, advance
            // on the NEXT index at a strictly later time; a capped
            // session folds its deterministic least-maxStamps prefix
            // and says so in `truncated`
            val ordered0 = s.stamps.sortBy(e => (e.t, e.idx))
            val ordered = if (s.trunc) ordered0.take(maxStamps) else ordered0
            var step = 0L
            var last = Long.MinValue
            ordered.foreach { e =>
              if (e.idx == step + 1 && e.t > last) { step += 1; last = e.t }
            }
            ClosedSessionFunnel(u, s.start, s.end, s.n, step, s.trunc)
          }
      }
  }

  /** The q186 fold over [[sessionFunnelStream]]'s closed sessions:
    * [[Analytics.sessionFunnel]]'s report — one row per step
    * `(step, step_name, sessions)`, unreached steps at 0 — PLUS an
    * `n_truncated` column making the `maxStamps` cap visible: for each
    * step, the number of `truncated` sessions whose capped `max_step`
    * stopped BELOW it. A truncated session's max_step is a lower
    * bound, so its reach of later steps is unknown — folding it
    * silently into `sessions` would do exactly the bound-into-exact
    * census the [[ClosedSessionFunnel]] scaladoc warns against.
    * Instead the true census at each step lies in
    * `[sessions, sessions + n_truncated]`; batch parity
    * (`sessions` column == [[Analytics.sessionFunnel]]) holds exactly
    * whenever `n_truncated` is 0 everywhere. Pass the SAME `steps` the
    * stream ran with. Input without a `truncated` column (pre-cap
    * output) reads as all-untruncated.
    *
    * Scale shape: ONE scan of the closed sessions, exploded exactly
    * `steps.size` rows per session with both counts conditional; the
    * census is steps-bounded. */
  def sessionFunnelRollup(closedSessions: DataFrame,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val spark = closedSessions.sparkSession
    val stepsArr = array(steps.map(lit): _*)
    val trunc = if (closedSessions.columns.contains("truncated"))
      col("truncated") else lit(false)
    val perStep = closedSessions
      .select(col("max_step"), trunc.as("__tr"),
        explode(sequence(lit(1L), lit(steps.size.toLong))).as("step"))
      .groupBy("step").agg(
        count(when(col("max_step") >= col("step"), 1)).as("__n"),
        count(when(col("__tr") && col("max_step") < col("step"), 1))
          .as("__u"))
    spark.range(1, steps.size + 1).select(col("id").as("step"))
      .join(perStep, Seq("step"), "left")
      .select(col("step").cast("int").as("step"),
        element_at(stepsArr, col("step").cast("int")).as("step_name"),
        coalesce(col("__n"), lit(0L)).as("sessions"),
        coalesce(col("__u"), lit(0L)).as("n_truncated"))
      .orderBy("step")
  }

  /** Streaming session paths — the incremental counterpart of
    * [[Analytics.sessionPaths]] (q197): each closed gap session
    * carries its full ordered `>`-joined type path (the batch
    * operator's (t, id, type)-struct sort exactly), emitted
    * append-mode, exactly once, at watermark ripening. The top-paths
    * census derives downstream — see [[sessionPathsRollup]].
    *
    * State per open session: every event's (t, id, type) stamp UP TO
    * 2·`maxStamps` — the path render is order-sensitive and an
    * in-watermark straggler can INSERT into the middle, so nothing can
    * be folded early; the batch operator's own per-session
    * collect_list bound (a session's event count) applies, but CAPPED:
    * a key that never gaps (bot traffic, a sub-gap heartbeat) would
    * otherwise grow one state-store value forever, and state values
    * deserialize whole — the one executor-OOM path in the census
    * family. The 2× headroom amortizes the sort-truncate to
    * O(log maxStamps) per event. Closed sessions leave the store the
    * micro-batch they emit.
    *
    * Truncation semantics at the cap: the rendered path is the
    * (t, id, ty)-LEAST `maxStamps` stamps — the true least-k survive
    * any truncate-to-least-k of a superset, so regardless of arrival
    * order or when the amortized cut fires, the emitted path is the
    * session's deterministic render-order PREFIX — with an explicit
    * trailing `>…` marker (`n_events` still counts every event).
    * Truncated paths therefore never collide with a genuine full path
    * in [[sessionPathsRollup]]'s census. */
  def sessionPathsStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, gapUs: Long,
      watermark: String = "10 minutes",
      maxStamps: Int = DefaultMaxStamps): Dataset[ClosedSessionPath] = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    require(maxStamps >= 1 && maxStamps <= MaxStampsCeiling,
      s"maxStamps must be in [1, $MaxStampsCeiling], got $maxStamps")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"),
        col(typeCol).cast("string").as("ty"))
      .as[(Long, java.time.Instant, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSessionPath], ClosedSessionPath](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, String)],
         state: GroupState[List[OpenSessionPath]]) =>
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            OpenSessionPath(t, t, 1L, List(PathStamp(t, r._3, r._4)),
              trunc = false, ns = 1)
          }.toList
          // the shared fold, with the funnel's AMORTIZED cap: smaller
          // fragment left in the concat (O(min) per combine), count in
          // `ns`, sort-truncate to the (t, id, ty)-least maxStamps only
          // past 2×maxStamps — O(log maxStamps) per event amortized.
          // The true least-k survive any such cut, so the close-time
          // take(maxStamps) renders a deterministic prefix.
          ripenGapSessions(state.getOption.getOrElse(Nil), incoming,
            gapUs, state)(_.start, _.end, (h, s) => {
            val total = h.ns + s.ns
            val cat =
              if (s.ns <= h.ns) s.stamps ++ h.stamps
              else h.stamps ++ s.stamps
            val cut = total.toLong > 2L * maxStamps
            val kept =
              if (cut) cat.sortBy(e => (e.t, e.id, e.ty)).take(maxStamps)
              else cat
            OpenSessionPath(h.start, math.max(h.end, s.end), h.n + s.n,
              kept, h.trunc || s.trunc || cut,
              if (cut) maxStamps else total)
          })
            .iterator.map { s =>
              // the batch render exactly: (t, id, ty)-ascending struct
              // sort, types joined with ">"; a capped session renders
              // its deterministic least-maxStamps prefix and marks the
              // dropped tail explicitly
              val ordered0 = s.stamps.sortBy(e => (e.t, e.id, e.ty))
              val ordered =
                if (s.trunc) ordered0.take(maxStamps) else ordered0
              val path = ordered.map(_.ty).mkString(">") +
                (if (s.trunc) ">…" else "")
              ClosedSessionPath(u, s.start, s.end, s.n, path)
            }
      }
  }

  /** The q197 fold over [[sessionPathsStream]]'s closed sessions:
    * EXACTLY [[Analytics.sessionPaths]]'s top-k census —
    * `(path, n_sessions)`, count-desc then path — so streaming and
    * batch path reports are directly comparable on any ripe prefix. */
  def sessionPathsRollup(closedSessions: DataFrame,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    closedSessions.groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
  }

  /** Streaming abandonment verdicts — the incremental counterpart of
    * [[Analytics.abandonmentCensus]] (q241): each `fromType` event is
    * judged ABANDONED iff no `toType` event of the same user follows
    * it strictly in the (t, id) total order within `(t, t + windowUs]`
    * — the batch rule exactly — and the verdict is emitted append-mode,
    * EXACTLY ONCE, when the watermark passes `t + windowUs`: at that
    * instant every toType event that could rescue the fromType sits
    * below the watermark, so the verdict is final. In-watermark
    * disorder cannot mis-judge — a late-but-in-watermark rescue lands
    * in state before the from's budget ripens.
    *
    * State per user: pending froms (bounded by the user's fromType
    * events inside `windowUs` + the lateness window) plus retained tos
    * above the usefulness horizon `watermark − windowUs` (a to rescues
    * only froms at-or-before it, and every live or future from sits at
    * or above that horizon — older tos are provably useless and are
    * purged each invocation, so state never grows with history). The
    * event-time timeout re-arms at the earliest pending budget (or to
    * purge point), so verdicts ripen — and state drains — on watermark
    * progress even when the user goes silent.
    *
    * Scale shape: one key shuffle per micro-batch, per-key state
    * lookups, no window over history — the family discipline. Only the
    * two relevant types should be fed in (filter upstream; the
    * operator also filters defensively). */
  def abandonmentStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, fromType: String,
      toType: String, windowUs: Long,
      watermark: String = "10 minutes"): Dataset[AbandonVerdict] = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(fromType != toType, "fromType and toType must differ")
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked TimestampType column itself must reach the
    // stateful operator (a long projection strips the watermark tag)
    val typed = events
      .filter(col(typeCol).isin(fromType, toType))
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"),
        (col(typeCol) === fromType).as("isFrom"))
      .as[(Long, java.time.Instant, Long, Boolean)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AbandonState, AbandonVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, Boolean)],
         state: GroupState[AbandonState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(AbandonState(Nil, Nil))
          var newFrom = List.empty[EventStamp]
          var newTo = List.empty[EventStamp]
          rows.foreach { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            if (r._4) newFrom ::= EventStamp(t, r._3)
            else newTo ::= EventStamp(t, r._3)
          }
          val tos = prior.seenTo ++ newTo
          // ripe = the budget window closed below the watermark: no
          // in-watermark to can still land inside it
          val (ripe, hold) = (prior.pending ++ newFrom)
            .partition(f => f.t + windowUs < wmUs)
          val out = ripe.sortBy(f => (f.t, f.id)).map { f =>
            val rescued = tos.exists(to =>
              (to.t > f.t || (to.t == f.t && to.id > f.id)) &&
                to.t <= f.t + windowUs)
            AbandonVerdict(u, f.id, f.t, !rescued)
          }
          // usefulness horizon: live froms have t ≥ wm − windowUs and
          // future froms arrive at-or-above the watermark; a rescuing
          // to is (t, id)-after its from, so tos below the horizon can
          // never rescue anything again
          val keepTo = tos.filter(_.t >= wmUs - windowUs)
          if (hold.isEmpty && keepTo.isEmpty) state.remove()
          else {
            state.update(AbandonState(hold, keepTo))
            // earliest verdict budget or to purge point, ms-ceiling'd
            // past the µs bound; clamped above the current watermark
            // (Spark rejects a timeout at-or-before it)
            val fire = (hold ++ keepTo).map(_.t + windowUs).min / 1000L + 2L
            state.setTimeoutTimestamp(
              math.max(fire, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** The q241 fold over [[abandonmentStream]]'s verdicts: a
    * batch-shape rollup producing EXACTLY
    * [[Analytics.abandonmentCensus]]'s one-row output —
    * `(n_from_events, n_abandoned, abandon_ppm,
    * n_users_abandoning)`, floored ppm — so streaming and batch
    * censuses are directly comparable on any ripe prefix. Both run
    * the one fold, [[Analytics.abandonFold]].
    *
    * Scale shape: per-user hash agg with map-side partials, then a
    * 1-row fold; the ppm render is exact integer. */
  def abandonmentRollup(verdicts: DataFrame): DataFrame =
    Analytics.abandonFold(verdicts, "user_id",
      when(col("abandoned"), 1L).otherwise(0L))

  /** Streaming daily growth accounting — the incremental counterpart
    * of [[Analytics.growthAccounting]] (q219): each (user, active day)
    * classifies as `new` (first ripe day ever), `retained` (active the
    * previous day too) or `resurrected` (active before, but not
    * yesterday), and a `churned` row marks day `p+1` when the user was
    * active on `p` and provably not on `p+1`. Emission grain is the
    * DAY, exactly once, when the day COMPLETES below the watermark
    * (`(d+1)·DAY ≤ wm` — no day-`d` event can still arrive): an active
    * day's class is final then, and a churn-out at `p+1` is final once
    * day `p+1` is complete with no activity — whether discovered by a
    * GAP between two ripe active days or by SILENCE via the event-time
    * timeout at `(p+2)·DAY`. A later return emits `resurrected`, never
    * retracts the churn — the batch operator's own accounting (churn
    * at `p+1`, resurrection at the return day).
    *
    * State per user: the durable three-scalar carry (everActive /
    * lastActive / churnEmitted) plus the unripe active-day buffer
    * (bounded by distinct days inside the lateness window). Late
    * sub-watermark events never reach the operator, so the ripe-day
    * fold processes each user's days in ascending order exactly
    * once.
    *
    * Retention note: the carry is deliberately PERMANENT — growth
    * accounting is exactly the operator that must remember a user
    * across arbitrary silence (new vs resurrected is a forever
    * distinction), so a settled user keeps one ~3-scalar entry and
    * total state grows with LIFETIME user cardinality, never event
    * volume. That is ~24 bytes/user — 24 GB of RocksDB state per
    * billion users, fine for any real deployment. A deployment with
    * truly unbounded user churn (synthetic ids, one event per id) can
    * bound it operationally: partition the id space across query
    * instances, or restart from a fresh checkpoint per epoch accepting
    * `resurrected`→`new` reclassification across the boundary. An
    * in-operator TTL is deliberately NOT offered — expiring a carry
    * silently converts resurrections into news and corrupts the
    * census. */
  def growthAccountingStream(events: DataFrame, userCol: String,
      tsCol: String,
      watermark: String = "10 minutes"): Dataset[GrowthEvent] = {
    val DAY = 86400000000L
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"))
      .as[(Long, java.time.Instant)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[GrowthState, GrowthEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant)],
         state: GroupState[GrowthState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption
            .getOrElse(GrowthState(false, None, false, Nil))
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            Math.floorDiv(t, DAY)
          }.toList
          val days = (prior.pending ++ incoming).distinct
          // a day is ripe when it is COMPLETE below the watermark
          val (ripe, hold) = days.partition(d => (d + 1) * DAY <= wmUs)
          var ever = prior.everActive
          var last = prior.lastActive
          var churned = prior.churnEmitted
          val out = scala.collection.mutable.ListBuffer.empty[GrowthEvent]
          ripe.sorted.foreach { d =>
            last match {
              case Some(p) if d == p + 1 =>
                out += GrowthEvent(u, d, "retained")
              case Some(p) =>
                // gap: day p+1 is ripe (p+1 < d ≤ ripe), so the
                // churn-out is final — unless the silence arm already
                // emitted it
                if (!churned) out += GrowthEvent(u, p + 1, "churned")
                out += GrowthEvent(u, d, "resurrected")
              case None =>
                out += GrowthEvent(u, d, if (ever) "resurrected" else "new")
            }
            ever = true; last = Some(d); churned = false
          }
          // silence: the day after the last active one is complete with
          // no activity (it cannot sit in `hold` — that would mean it
          // is not complete yet, contradicting the bound)
          last.foreach { p =>
            if (!churned && (p + 2) * DAY <= wmUs) {
              out += GrowthEvent(u, p + 1, "churned")
              churned = true
            }
          }
          state.update(GrowthState(ever, last, churned, hold))
          // wake at the earliest pending-day completion or the pending
          // churn-out point; a fully-settled user (churn emitted,
          // nothing buffered) keeps only the durable carry, no timer
          val fires = hold.map(d => (d + 1) * DAY) ++
            (if (!churned) last.map(p => (p + 2) * DAY) else None)
          if (fires.nonEmpty) {
            val fire = fires.min / 1000L + 2L
            state.setTimeoutTimestamp(
              math.max(fire, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** The q219 fold over [[growthAccountingStream]]'s events: EXACTLY
    * [[Analytics.growthAccounting]]'s report — per day the new /
    * retained / resurrected / churned counts, restricted (like the
    * batch operator) to days that are SOMEONE'S active day (a churn-out
    * landing past the observed calendar is dropped by the same
    * left-semi day spine). */
  def growthRollup(growthEvents: DataFrame): DataFrame = {
    // aliased spine column: both join sides derive from the same frame,
    // and a same-attribute semi join fails to resolve
    val days = growthEvents.filter(col("cls") =!= "churned")
      .select(col("day_num").as("__d")).distinct()
    growthEvents.groupBy("day_num")
      .agg(
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("cls") === "churned", 1L).otherwise(0L))
          .as("n_churned"))
      .join(days, col("day_num") === col("__d"), "left_semi")
      .orderBy("day_num")
  }

  /** Streaming last-touch attribution — the incremental counterpart of
    * [[Analytics.attributionLastTouch]]: per user, conversions are
    * credited to the most recent strictly-preceding non-conversion
    * event type ('direct' when none exists), emitted append-mode at
    * per-conversion grain, EXACTLY ONCE, and only when the watermark
    * passes the conversion's event time — in-watermark disorder cannot
    * mis-credit, because an event stays buffered until nothing earlier
    * can still arrive. The emitted set over any prefix equals the
    * batch operator's per-conversion credits on the same ripe events.
    *
    * State per user: one optional touch type + the sub-watermark
    * buffer (bounded by the user's events inside the lateness window —
    * the same bound every watermarked stateful operator here carries;
    * the one-row carry itself is the durable part, which is exactly
    * what attribution needs across sessions). An event-time timeout at
    * the earliest buffered time ripens the buffer even when the user
    * goes silent. */
  def attributionStream(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, valueCol: String,
      convType: String = "purchase",
      watermark: String = "10 minutes"): Dataset[AttributedConversion] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked TimestampType column itself must reach the
    // stateful operator (a long projection strips the watermark tag)
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"), col(typeCol).cast("string").as("ty"),
        col(valueCol).cast("double").as("v"))
      .as[(Long, java.time.Instant, Long, String, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AttributionState, AttributedConversion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, String, Double)],
         state: GroupState[AttributionState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(AttributionState(None, Nil))
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            PendingEvent(t, r._3, r._4, r._5)
          }.toList
          // ripe = strictly below the watermark: nothing earlier can
          // still arrive, so the (t, id) fold order is final
          val (ripe, hold) = (prior.pending ++ incoming)
            .partition(_.t < wmUs)
          var touch = prior.lastTouch
          val out = scala.collection.mutable.ListBuffer.empty[AttributedConversion]
          ripe.sortBy(e => (e.t, e.id)).foreach { e =>
            if (e.ty == convType)
              out += AttributedConversion(u, e.id,
                touch.getOrElse("direct"), e.value)
            else touch = Some(e.ty)
          }
          state.update(AttributionState(touch, hold))
          if (hold.nonEmpty) {
            // wake when the watermark can ripen the earliest held event
            // (ms ceiling past the µs bound; clamped above the current
            // watermark — Spark rejects a timeout at-or-before it)
            val fire = hold.map(_.t).min / 1000L + 2L
            state.setTimeoutTimestamp(
              math.max(fire, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming linear multi-touch attribution — the incremental
    * counterpart of [[Analytics.attributionLinear]]: each conversion's
    * value splits equally (floored integer micros — the same
    * order-independent `⌊value_micros / n⌋` split) across every touch
    * since the user's previous conversion, emitted append-mode at
    * (conversion, touch type) grain, EXACTLY ONCE, when the watermark
    * passes the conversion's event time. At that instant the segment
    * is provably complete: every touch of the segment PRECEDES the
    * conversion in event time, so it sits below the watermark too and
    * nothing can still join the segment. Conversions whose segment has
    * no touches are dropped (no path to credit — the batch rule).
    * Rolling the emitted credits up by touch type reproduces the batch
    * operator on the same ripe prefix.
    *
    * State per user: the OPEN segment's touch-type counts (bounded by
    * the type vocabulary — the durable carry) plus the sub-watermark
    * buffer (bounded by the user's events inside the lateness window).
    * An event-time timeout at the earliest buffered time ripens the
    * buffer even when the user goes silent. */
  def attributionLinearStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, valueCol: String,
      convType: String = "purchase",
      watermark: String = "10 minutes"): Dataset[LinearCredit] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked TimestampType column itself must reach the
    // stateful operator (a long projection strips the watermark tag)
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"), col(typeCol).cast("string").as("ty"),
        col(valueCol).cast("double").as("v"))
      .as[(Long, java.time.Instant, Long, String, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[LinearAttributionState, LinearCredit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, String, Double)],
         state: GroupState[LinearAttributionState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption
            .getOrElse(LinearAttributionState(Map.empty, Nil))
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            PendingEvent(t, r._3, r._4, r._5)
          }.toList
          // ripe = strictly below the watermark: the fold order is final
          val (ripe, hold) = (prior.pending ++ incoming)
            .partition(_.t < wmUs)
          var counts = prior.touchCounts
          val out = scala.collection.mutable.ListBuffer.empty[LinearCredit]
          ripe.sortBy(e => (e.t, e.id)).foreach { e =>
            if (e.ty == convType) {
              val n = counts.valuesIterator.sum
              if (n > 0) {
                // the batch split: per-touch credit is the FLOORED
                // integer division (order-independent across engines)
                val vmic = math.floor(e.value * 1000000d).toLong
                val per = Math.floorDiv(vmic, n)
                counts.toSeq.sortBy(_._1).foreach { case (ty, c) =>
                  out += LinearCredit(u, e.id, ty, c, c * per)
                }
              }
              counts = Map.empty // the conversion closes its segment
            } else counts = counts.updated(e.ty, counts.getOrElse(e.ty, 0L) + 1L)
          }
          state.update(LinearAttributionState(counts, hold))
          if (hold.nonEmpty) {
            // wake when the watermark can ripen the earliest held event
            // (ms ceiling past the µs bound; clamped above the current
            // watermark — Spark rejects a timeout at-or-before it)
            val fire = hold.map(_.t).min / 1000L + 2L
            state.setTimeoutTimestamp(
              math.max(fire, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming time-weighted average — the incremental counterpart of
    * [[Analytics.timeWeightedAverage]]: each event's value holds until
    * the user's next event; the CLOSED interval (left endpoint's value
    * held for `next.t − t`) is emitted append-mode, EXACTLY ONCE, when
    * the right endpoint ripens — at that instant nothing can still
    * land between the two endpoints (both sit below the watermark), so
    * the interval is final. Each user's latest ripe sample stays in
    * state as the next interval's open left endpoint — exactly the
    * batch rule that a user's last event contributes no interval
    * (yet). Summing `value_micros × duration_us` in decimal and
    * floor-dividing by `Σ duration_us` downstream reproduces the batch
    * TWAP on the same ripe prefix — the emitted increments ARE its
    * numerator/denominator terms.
    *
    * State per user: ONE (t, id, value-micros) sample plus the
    * sub-watermark buffer; event-time timeout at the earliest buffered
    * time closes intervals even when the user goes silent. */
  /** Streaming journey transitions — the incremental counterpart of
    * [[Analytics.eventTransitions]] (q137): each consecutive
    * (from_type, to_type) pair of a user's (t, id)-ordered journey is
    * emitted as one edge, append-mode, EXACTLY ONCE, when the TO event
    * ripens below the watermark — nothing can still land between the
    * endpoints then, so the adjacency is final (the [[twapStream]]
    * interval argument with a type in place of a value). Grouping the
    * edges by (from_type, to_type) and counting reproduces the batch
    * transition matrix on the same ripe prefix — see
    * [[transitionsRollup]] — while the raw edges keep per-user,
    * per-time provenance the batch rollup cannot give.
    *
    * State per user: ONE (t, id, type) carry plus the sub-watermark
    * buffer; event-time timeout at the earliest buffered time closes
    * edges even when the user goes silent.
    *
    * Retention note: the carry is deliberately durable — a user's next
    * event, whenever it arrives, forms an edge with the last one, so
    * state grows with lifetime user cardinality (one small entry per
    * user), never with event volume. Unlike [[growthAccountingStream]]
    * expiring a carry here is SAFE (the only loss is the one edge
    * spanning the expiry): a deployment with unbounded synthetic-id
    * churn can filter upstream on `ts` age or restart per epoch;
    * an in-operator TTL knob is omitted until a deployment needs it. */
  def transitionsStream(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      watermark: String = "10 minutes"): Dataset[TransitionEdge] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"),
        col(typeCol).cast("string").as("ty"))
      .as[(Long, java.time.Instant, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[TransitionState, TransitionEdge](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, String)],
         state: GroupState[TransitionState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(TransitionState(None, Nil))
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            PendingEvent(t, r._3, r._4, 0.0)
          }.toList
          val (ripe, hold) = (prior.pending ++ incoming)
            .partition(_.t < wmUs)
          var last = prior.last
          val out = scala.collection.mutable.ListBuffer.empty[TransitionEdge]
          ripe.sortBy(e => (e.t, e.id)).foreach { e =>
            last.foreach(l =>
              out += TransitionEdge(u, l.ty, e.ty, e.t, e.id))
            last = Some(LastTyped(e.t, e.id, e.ty))
          }
          state.update(TransitionState(last, hold))
          if (hold.nonEmpty) {
            val fire = hold.map(_.t).min / 1000L + 2L
            state.setTimeoutTimestamp(
              math.max(fire, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** The q137 fold over [[transitionsStream]]'s edges: EXACTLY
    * [[Analytics.eventTransitions]]'s matrix —
    * `(from_type, to_type, n_transitions)` — so streaming and batch
    * matrices are directly comparable on any ripe prefix. Types²-
    * bounded hash agg with map-side partials. */
  def transitionsRollup(edges: DataFrame): DataFrame =
    edges.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_type", "to_type")

  def twapStream(events: DataFrame, userCol: String, valueCol: String,
      tsCol: String, idCol: String,
      watermark: String = "10 minutes"): Dataset[TwapInterval] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("id"),
        col(valueCol).cast("double").as("v"))
      .as[(Long, java.time.Instant, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[TwapState, TwapInterval](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[(Long, java.time.Instant, Long, Double)],
         state: GroupState[TwapState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(TwapState(None, Nil))
          val incoming = rows.map { r =>
            val t = r._2.getEpochSecond * 1000000L + r._2.getNano / 1000L
            PendingEvent(t, r._3, "", r._4)
          }.toList
          val (ripe, hold) = (prior.pending ++ incoming)
            .partition(_.t < wmUs)
          var last = prior.last
          val out = scala.collection.mutable.ListBuffer.empty[TwapInterval]
          ripe.sortBy(e => (e.t, e.id)).foreach { e =>
            // the batch fixed point: floored micros, no double survives
            val vmic = math.floor(e.value * 1000000d).toLong
            last.foreach(l =>
              out += TwapInterval(u, l.t, l.vmic, e.t - l.t))
            last = Some(LastSample(e.t, e.id, vmic))
          }
          state.update(TwapState(last, hold))
          if (hold.nonEmpty) {
            val fire = hold.map(_.t).min / 1000L + 2L
            state.setTimeoutTimestamp(
              math.max(fire, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Burst-collapse dedup ("debounce"): within each key, keep an event
    * only when the gap since the PREVIOUS event of that key is at least
    * `minGapMicros` — so a rapid-fire burst (double-clicks, CDC change
    * storms, retry echoes) collapses to its first event. Gap semantics
    * (vs last-KEPT): a maximal chain of sub-gap events is one burst,
    * the same boundary rule as [[sessionize]] — expressible as one
    * `lag` window, no running state. Deterministic: ordering ties on
    * the timestamp break by `idCol`. Returns the kept rows with
    * `gap_us` (null for each key's first event).
    *
    * Scale shape: one shuffle on the key columns, per-key in-partition
    * sort, narrow lag frame — linear at any history length; the same
    * plan runs per-micro-batch over streams (apply after a watermark
    * groupBy or on foreachBatch frames). */
  def debounce(df: DataFrame, keyCols: Seq[String], tsCol: String,
      idCol: String, minGapMicros: Long): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(minGapMicros > 0, s"minGapMicros must be > 0, got $minGapMicros")
    val tus = graft.analytics.Analytics.tsMicros(df, tsCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(tus, col(idCol))
    df.withColumn("__gap", tus - lag(tus, 1).over(w))
      .filter(col("__gap").isNull || col("__gap") >= minGapMicros)
      .withColumn("gap_us", col("__gap")).drop("__gap")
  }

  /** Streaming replication-lag observation (ST9): attach an observe()
    * aggregation that reports max commit timestamp per micro-batch; a
    * QueryListener turns it into the lag gauge. */
  def withLagObservation(stream: DataFrame, tsCol: String,
      name: String = "lag_metrics"): DataFrame =
    stream.observe(name,
      max(col(tsCol)).as("max_commit_ts"),
      count(lit(1)).as("batch_rows"))

  /** Streaming PSI drift monitor — the serving-time arm of
    * [[Analytics.psiDrift]]: arriving events bin against a FROZEN
    * [[Analytics.psiBinSpec]] calibration snapshot (train-time bounds
    * travel as a broadcast table — the `quality_pct` pattern) and
    * emit per-(type, event-time window) bin counts in APPEND mode,
    * exactly once per closed window (watermark-gated, cross-batch
    * counts merged by the streaming agg). Bin geometry is the SHARED
    * [[Analytics.clampedBin]]: out-of-range values clamp into the
    * edge bins and types the calibration has never seen land in the
    * sentinel bin `bins` (a novel serving-time type is the loudest
    * drift there is — it must never be dropped by the spec join), so
    * the streaming counts are bit-identical to
    * [[Analytics.psiBinCounts]]'s batch re-bin of the same ripe
    * events. Score
    * each window with [[Analytics.psiAgainstBaseline]] at the sink
    * (the PSI fold is a tiny bins-bounded batch transform per window
    * — it does not belong inside the streaming agg, which would need
    * a second aggregation stage append mode forbids). Output:
    * `(event_type, window_start, window_end, __b, n)`.
    *
    * Scale shape: one stream-static broadcast join (the spec is
    * types-bounded), one windowed hash agg keyed (type, window, bin)
    * — state is types × open-windows × bins rows, independent of
    * event volume; no per-key custom state at all. */
  def psiDriftStream(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, spec: DataFrame, bins: Int = 10,
      windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    events.withWatermark(tsCol, watermark)
      .select(col(typeCol).as("event_type"), col(tsCol).as("__t"),
        floor(col(valueCol) * 1000000d).cast("long").as("__vm"))
      .join(broadcast(spec), Seq("event_type"), "left")
      .withColumn("__b", when(col("lo_micro").isNull, lit(bins.toLong))
        .otherwise(Analytics.clampedBin(col("__vm"), col("lo_micro"),
          col("width_micro"), bins)))
      .groupBy(col("event_type"), window(col("__t"), windowDur), col("__b"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("__b"), col("n"))
  }
}
