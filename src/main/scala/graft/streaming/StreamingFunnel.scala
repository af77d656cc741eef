package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming ordered-funnel tracking — the streaming form of
 * [[graft.ops.EventAnalytics.funnelLevels]] with the SAME earliest-anchor
 * greedy semantics: per user, slot 1 = the first step-1 event; slot k
 * fills at the first step-k event strictly after slot k-1 and within the
 * window of slot 1. One unified semantics with batch, so a dashboard can
 * bootstrap conversion counts from a batch run and keep counting live.
 *
 * Shape: the step-index projection is the identical pre-shuffle filter
 * the batch path uses; the stateful part is `flatMapGroupsWithState`
 * keyed on the user. State per user = the k slot timestamps (k longs,
 * bounded — nothing grows with event volume); completed users KEEP their
 * state by default (dropping it would let a later event restart the
 * funnel and re-emit level 1 — per-funnel re-entry wants a session key
 * upstream). PRODUCTION EVICTION is opt-in via `evictionWatermark`:
 * passing a watermark delay arms an event-time timeout at
 * anchor + window — the instant past which no slot can legally fill —
 * and the state is removed when the watermark passes it, so state
 * cardinality tracks the ACTIVE user population instead of growing with
 * every user ever seen. Two documented consequences: the input stream
 * gains `withWatermark(tsCol, delay)` (events later than the watermark
 * lose the usual guarantees), and a user who returns AFTER eviction
 * starts a fresh funnel (re-emitting level 1) — the batch-parity
 * "completed users never re-emit" contract holds only for the
 * default no-eviction mode. NULL user ids are dropped on the stream
 * (the typed state key is primitive; batch groups them — filter
 * upstream if parity on NULL users matters). Emission is append-mode:
 * one row per NEWLY attained level, carrying
 * the attaining event time — downstream conversion counts are
 * `groupBy(level).count` over these increments, and the rows for one
 * user are cumulative across micro-batches exactly like one batch run.
 *
 * ORDER DIVERGENCE (inherent to streaming, stated rather than hidden):
 * within one state invocation events sort by (ts, step) — the batch
 * fold's order — but an append stream cannot reorder ACROSS micro-batch
 * boundaries: slots only ever fill, so an out-of-order event arriving a
 * batch late (an earlier step-1 time, or a step-2 time that would have
 * beaten the recorded one) cannot retract an already-filled slot. When
 * arrival order respects event time (in-order sources, or within any
 * single batch) the streamed increments equal the batch run on the union
 * of all data — the RunnerSpec equivalence. Out-of-order tails reconcile
 * the standard way: re-run the batch op at compaction time.
 */
object StreamingFunnel {

  /** `wm` carries the ORIGINAL (possibly watermarked) timestamp column:
   * event-time timeouts require the watermark-tagged attribute to survive
   * into the stateful operator's input — a derived `unix_micros` column
   * loses the attribute metadata, so the raw column rides along (the fold
   * itself only reads `us`/`step`). */
  final case class StepEvent(user: Long, us: Long, step: Int,
      wm: java.sql.Timestamp)
  final case class LevelHit(user: Long, level: Int, at_us: Long)
  final case class FunnelState(slots: Array[Long])

  /**
   * Per-user funnel-level increments: (user, level, at_us). `steps` and
   * `windowSeconds` must match the batch run being continued. Works
   * identically on a batch frame (flatMapGroupsWithState in batch mode
   * sees each group once), which the equivalence spec exercises.
   *
   * @param evictionWatermark when Some(delay) — STREAMING ONLY — sets
   *        `withWatermark(tsCol, delay)` on the input and evicts a user's
   *        state once the watermark passes anchor + window (see the
   *        object doc for the re-entry consequence). None (default)
   *        keeps state forever, the exact-batch-parity mode.
   */
  def levels(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      windowSeconds: Long,
      evictionWatermark: Option[String] = None): Dataset[LevelHit] = {
    // validation + step projection single-sourced with the batch fold
    graft.ops.EventAnalytics.validateFunnelArgs(steps, windowSeconds)
    require(evictionWatermark.isEmpty || events.isStreaming,
      "evictionWatermark needs a streaming input: batch mode sees each " +
        "group exactly once, so there is no state to evict")
    val k = steps.length
    val winMicros = windowSeconds * 1000000L
    val src = evictionWatermark
      .map(delay => events.withWatermark(tsCol, delay)).getOrElse(events)
    // the state key is a primitive long: filter on the POST-cast value so
    // a non-numeric user id (e.g. "u123") is dropped like a NULL instead
    // of exploding inside the non-nullable StepEvent encoder — the
    // numeric-key restriction of this streaming form (batch funnelLevels
    // groups on any key type; pre-map ids upstream for parity). try_cast,
    // not cast: under ANSI mode a plain cast throws on "u123".
    val user = col(userCol).try_cast("long")
    val stepRows = src
      .filter(col(tsCol).isNotNull && user.isNotNull &&
        graft.ops.EventAnalytics.stepFilter(typeCol, steps))
      .select(user.as("user"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        graft.ops.EventAnalytics.stepIndexCol(typeCol, steps).as("step"),
        // plain alias when already TIMESTAMP — a Cast node would strip
        // the watermark metadata the event-time-timeout check looks for
        (if (src.schema(tsCol).dataType ==
            org.apache.spark.sql.types.TimestampType) col(tsCol)
         else col(tsCol).cast("timestamp")).as("wm"))
      .as[StepEvent](Encoders.product[StepEvent])
    val timeoutMode =
      if (evictionWatermark.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout

    stepRows.groupByKey(_.user)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, LevelHit](
        OutputMode.Append, timeoutMode) {
        (user: Long, rows: Iterator[StepEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // watermark passed anchor + window: no slot can legally fill
            // anymore — drop the k-long state row (the documented
            // production eviction; a user returning later re-anchors)
            state.remove()
            Iterator.empty
          } else {
            val slots = state.getOption.map(_.slots.clone())
              .getOrElse(Array.fill(k)(-1L))
            val out = scala.collection.mutable.ArrayBuffer.empty[LevelHit]
            // the batch fold's order within this invocation; slots only fill
            for (e <- rows.toArray.sortBy(r => (r.us, r.step))) {
              val i = e.step - 1
              if (slots(i) == -1L &&
                  (i == 0 || (slots(i - 1) != -1L && e.us > slots(i - 1) &&
                    e.us <= slots(0) + winMicros))) {
                slots(i) = e.us
                out += LevelHit(user, e.step, e.us)
              }
            }
            // keep completed state too: dropping it would let a later event
            // restart the user's funnel and re-emit level 1 — a divergence
            // from the batch fold. State is k longs per user either way.
            // A never-anchored user stores nothing (absent == all-empty).
            if (slots.exists(_ != -1L)) {
              state.update(FunnelState(slots))
              // any state implies an anchor (slot 1 gates every later slot).
              // A timeout below the current watermark throws, and the
              // watermark may already have passed anchor + window when a
              // user's next event arrives: then time out on the next
              // watermark advance instead.
              if (timeoutMode == GroupStateTimeout.EventTimeTimeout)
                state.setTimeoutTimestamp(math.max(
                  slots(0) / 1000L + windowSeconds * 1000L + 1L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }(Encoders.product[FunnelState], Encoders.product[LevelHit])
  }
}
