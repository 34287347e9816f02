package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** The watermark-ordered release shared by the order-sensitive state
  * machines ([[GapState]], [[TouchState]]). Each key buffers its events
  * until the event-time watermark passes them: an event strictly below
  * the watermark can gain no later-arriving predecessor (Spark drops
  * anything behind the watermark), so its position in the key's order
  * is final and it can be replayed through the per-event step. */
private[streaming] object OrderedRelease {

  /** Exact integer micros of a timestamp (the q110/q169 rule: getTime
    * alone is ms-truncated and would floor boundary gaps). */
  def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** One firing for one key: sorts `pending ++ incoming`, feeds the
    * prefix below the watermark to `step` in order, then stores the
    * state or purges it.
    *  - Events still pending: store `save(rest)` and re-fire once the
    *    watermark can free the earliest of them.
    *  - None pending: keep `save(Nil)` while the key's anchor (`anchorUs`,
    *    read after the steps; None if the key never anchored) is
    *    younger than `idleTtlMs` behind the watermark, re-firing at its
    *    expiry; otherwise remove the state. */
  def apply[E, S](state: GroupState[S], pending: Seq[E], incoming: Iterator[E],
      idleTtlMs: Long)(us: E => Long)(step: E => Unit)(
      anchorUs: => Option[Long], save: Seq[E] => S)(implicit ord: Ordering[E]): Unit = {
    val wmMs = state.getCurrentWatermarkMs()
    val (safe, rest) = (pending ++ incoming).sorted.span(e => us(e) < wmMs * 1000L)
    safe.foreach(step)
    if (rest.nonEmpty) {
      state.update(save(rest))
      state.setTimeoutTimestamp(math.max(us(rest.head) / 1000L, wmMs + 1L))
    } else anchorUs match {
      case Some(a) if wmMs < a / 1000L + idleTtlMs =>
        state.update(save(Nil))
        state.setTimeoutTimestamp(math.max(a / 1000L + idleTtlMs, wmMs + 1L))
      case _ => state.remove()
    }
  }
}
