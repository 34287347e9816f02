package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING sibling of q169's inter-arrival gap histogram (the
  * batch↔stream parity discipline of q28/q90/q127): per
  * (user, event_type), the gap in whole seconds between CONSECUTIVE
  * events, banded by floor(log2(gap+1)) exactly like the batch query
  * — so a downstream count per (event_type, band) over this stream
  * reproduces q169 incrementally at ingest (live bot-cadence
  * monitoring), no rescan of history.
  *
  * Parity under out-of-order arrival: the batch query sorts by
  * (ts, event_id) inside each key, so gap correctness depends on the
  * ORDER of the key's event multiset — an emitted gap can never be
  * repaired in append mode if a straggler lands between its
  * endpoints. The state therefore BUFFERS each key's events until the
  * event-time watermark passes them: an event with ts < watermark can
  * have no later-arriving predecessor (Spark drops anything behind
  * the watermark), so the buffer's below-watermark prefix is safe to
  * emit in (ts, event_id) order, each event anchoring the next gap.
  * Events at or above the watermark stay buffered; the event-time
  * timeout re-fires the key when the watermark advances so buffered
  * tails drain without new arrivals.
  *
  * State boundedness: the buffer holds only the key's
  * inside-watermark window (≤ delay × the key's event rate — the same
  * bound as any watermarked stateful op) plus ONE anchor; idle keys
  * are purged after `idleTtlMs` (a post-purge event restarts as a
  * first event and its bridging gap is uncounted — the documented
  * bounded-state tradeoff, identical to watermarked dedup's TTL).
  * At cluster scale the operator shuffles once on the grouping key —
  * the same one exchange the batch query pays. */
object GapState {

  final case class Ev(user_id: Long, event_type: String,
                      ts: java.sql.Timestamp, event_id: Long)
  final case class GapBuf(hasAnchor: Boolean, anchorUs: Long, anchorId: Long,
                          pending: Seq[(Long, Long)])
  final case class GapRec(user_id: Long, event_type: String,
                          gap_s: Long, band: Long)

  /** floor(log2(v+1)) via bit length — the exact integer banding rule
    * of the batch query (`length(bin(gap+1)) - 1`, q121/q169). */
  private[streaming] def bandOf(gapS: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(gapS + 1L)

  private[streaming] def updateKey(idleTtlMs: Long)(
      key: (Long, String), events: Iterator[Ev], state: GroupState[GapBuf])
  : Iterator[GapRec] = {
    val (userId, eventType) = key
    val prev = state.getOption.getOrElse(GapBuf(hasAnchor = false, 0L, 0L, Nil))
    val out = Seq.newBuilder[GapRec]
    var hasAnchor = prev.hasAnchor
    var anchorUs = prev.anchorUs
    var anchorId = prev.anchorId
    OrderedRelease(state, prev.pending,
      events.map(e => (OrderedRelease.micros(e.ts), e.event_id)), idleTtlMs)(_._1) {
      case (us, id) =>
        if (hasAnchor) {
          val gapS = (us - anchorUs) / 1000000L // both sides exact integer micros
          out += GapRec(userId, eventType, gapS, bandOf(gapS))
        }
        hasAnchor = true; anchorUs = us; anchorId = id
    }(Option.when(hasAnchor)(anchorUs), GapBuf(hasAnchor, anchorUs, anchorId, _))
    out.result().iterator
  }

  /** events(user_id, event_type, ts, event_id) stream → per-gap
    * records (append mode; caller aggregates bands downstream). */
  def gapBands(events: DataFrame, watermark: String = "1 hour",
               idleTtlMs: Long = 24L * 3600 * 1000): Dataset[GapRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select($"user_id".cast("long"), $"event_type", $"ts",
        $"event_id".cast("long"))
      .withWatermark("ts", watermark)
      .as[Ev]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[GapBuf, GapRec](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        updateKey(idleTtlMs))
  }
}
