package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.queries.EventQueries.sessionSteps

/** STREAMING sibling of the q90 sessionized funnel (reference intent:
  * the continuously-maintained `sentiment_summary` rollup,
  * sentiment_analysis.py:196-209): per session, did the user progress
  * view → click → purchase in STRICT time order? The stream runs q90's
  * own step definition (`EventQueries.sessionSteps`) over its
  * watermarked input, so stream, q90 and q163 share one session
  * grouping and one step rule, and a downstream aggregation over the
  * closed-session stream reproduces q90's conversion rollup
  * incrementally — no rescan of history.
  *
  * Out-of-order arrival within the watermark needs no special case: a
  * late view can lower t_view and so qualify an earlier click, and the
  * steps are computed only when the watermark closes the session.
  *
  * State: an open session keeps every click and purchase time it has
  * seen (two `collect_list`s), since any of them may still become a
  * step once a later-arriving view lowers t_view. Both lists are purged
  * with the session when the watermark passes its end. */
object FunnelState {

  /** Session bounds and step times in epoch micros (the batch frame's
    * exact unit, so parity is integer equality). */
  final case class ClosedFunnel(
      user_id: Long, t_start: Long, t_end: Long, n_events: Long,
      t_view: Option[Long], t_click: Option[Long], t_purchase: Option[Long])

  /** events(user_id, ts, event_type) stream → closed session-funnel
    * stream (append mode). One shuffle on user_id. */
  def funnelize(events: DataFrame, watermark: String = "1 hour"): Dataset[ClosedFunnel] = {
    val spark = events.sparkSession
    import spark.implicits._
    sessionSteps(events.select($"user_id".cast("long").as("user_id"), $"ts",
        $"event_type".cast("string").as("event_type"))
      .withWatermark("ts", watermark))
      .as[ClosedFunnel]
  }
}
