package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING sibling of q174's last-touch attribution (the GapState
  * discipline applied to a second order-sensitive operator): per
  * user, every `purchase` is attributed at ingest to the most recent
  * strictly-prior non-purchase event within the window — so a
  * downstream count/sum per attributed type reproduces q174's rollup
  * incrementally (live campaign dashboards), no rescan.
  *
  * Order correctness under out-of-order arrival is the same problem
  * gaps have — an attribution emitted in append mode cannot be
  * repaired when a straggler touch lands between the purchase and its
  * supposed last touch — and gets the same solution: BUFFER each
  * user's events until the event-time watermark passes them, then
  * replay the below-watermark prefix in (ts, event_id) order through
  * O(1) last-touch state. Value rides as integer cents computed by
  * the SAME codegen'd `round(value·100)` the batch query uses (the
  * q12 exactness rule), so parity is exact, not ε-close.
  *
  * State boundedness: the in-watermark buffer plus ONE
  * (ts, touch-type) anchor per user; idle users purge after
  * `idleTtlMs` (a post-purge purchase attributes as `direct` — the
  * documented TTL tradeoff, conservative rather than wrong). */
object TouchState {

  final case class Ev(user_id: Long, event_type: String,
                      ts: java.sql.Timestamp, event_id: Long, cents: Long)
  final case class TouchBuf(hasTouch: Boolean, touchUs: Long, touchType: String,
                            pending: Seq[(Long, Long, String, Long)])
  final case class Attribution(user_id: Long, event_id: Long,
                               attributed_type: String, value_cents: Long)

  private[streaming] def updateUser(windowS: Long, idleTtlMs: Long)(
      userId: Long, events: Iterator[Ev], state: GroupState[TouchBuf])
  : Iterator[Attribution] = {
    val prev = state.getOption.getOrElse(TouchBuf(hasTouch = false, 0L, "", Nil))
    val out = Seq.newBuilder[Attribution]
    var hasTouch = prev.hasTouch
    var touchUs = prev.touchUs
    var touchType = prev.touchType
    OrderedRelease(state, prev.pending, events.map(e =>
      (OrderedRelease.micros(e.ts), e.event_id, e.event_type, e.cents)), idleTtlMs)(_._1) {
      case (us, id, tpe, cents) =>
        if (tpe == "purchase") {
          val attributed =
            if (hasTouch && (us - touchUs) / 1000000L <= windowS) touchType
            else "direct"
          out += Attribution(userId, id, attributed, cents)
        } else { hasTouch = true; touchUs = us; touchType = tpe }
    }(Option.when(hasTouch)(touchUs), TouchBuf(hasTouch, touchUs, touchType, _))
    out.result().iterator
  }

  /** events(user_id, event_type, ts, event_id, value) stream →
    * per-purchase attribution records (append mode). */
  def attribute(events: DataFrame, windowS: Long = 1800L,
                watermark: String = "1 hour",
                idleTtlMs: Long = 24L * 3600 * 1000): Dataset[Attribution] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("CAST(user_id AS LONG) AS user_id", "event_type", "ts",
        "CAST(event_id AS LONG) AS event_id",
        // the batch query's exact cents rule, evaluated by the same
        // codegen'd round BEFORE rows reach the JVM state machine
        "CAST(round(value * 100, 0) AS BIGINT) AS cents")
      .withWatermark("ts", watermark)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchBuf, Attribution](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        updateUser(windowS, idleTtlMs))
  }
}
