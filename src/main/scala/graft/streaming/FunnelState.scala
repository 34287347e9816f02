package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.queries.EventQueries.SessionGap

/** STREAMING sibling of the q90 sessionized funnel (reference intent:
  * the continuously-maintained `sentiment_summary` rollup,
  * sentiment_analysis.py:196-209): per session, did the user progress
  * view → click → purchase in STRICT time order? Sessions are Spark's
  * `session_window` with q28's [[SessionGap]], so they split exactly
  * where the batch step frame (`EventQueries.sessionSteps`) splits, and
  * a downstream aggregation over the closed-session stream reproduces
  * q90's conversion rollup incrementally — no rescan of history.
  *
  * Strict-order step semantics are the batch query's, on integer
  * MICROS: t_view = min view time; t_click = min click time > t_view;
  * t_purchase = min purchase time > t_click. Out-of-order arrival
  * within the watermark needs no special case: a late view can lower
  * t_view and so qualify an earlier click, and the steps are computed
  * only when the watermark closes the session.
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
    val t = unix_micros($"ts")
    def timesOf(eventType: String) = collect_list(when($"event_type" === eventType, t))
    events.select($"user_id".cast("long").as("user_id"), $"ts",
        $"event_type".cast("string").as("event_type"))
      .withWatermark("ts", watermark)
      .groupBy($"user_id", session_window($"ts", SessionGap))
      .agg(min(t).as("t_start"), max(t).as("t_end"), count(lit(1)).as("n_events"),
        min(when($"event_type" === "view", t)).as("t_view"),
        timesOf("click").as("clicks"), timesOf("purchase").as("purchases"))
      .withColumn("t_click", array_min(filter($"clicks", _ > $"t_view")))
      .withColumn("t_purchase", array_min(filter($"purchases", _ > $"t_click")))
      .select($"user_id", $"t_start", $"t_end", $"n_events",
        $"t_view", $"t_click", $"t_purchase")
      .as[ClosedFunnel]
  }
}
