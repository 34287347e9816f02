package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.queries.EventQueries.SessionGap

/** Gap-based sessionization of an event stream (SURVEY §2.9) on
  * Spark's own `session_window`, the operator and gap that batch q28
  * uses (`EventQueries.sessionizeRaw`). Stream and batch therefore
  * split sessions by one rule: a new session starts where consecutive
  * events of a user are more than [[SessionGap]] apart, compared in
  * exact microseconds.
  *
  * Append mode: a session is emitted once the watermark passes its end
  * (last event + gap). An event that arrives out of order but within
  * the watermark extends, or bridges, the open sessions it touches,
  * exactly as if it had arrived in order. State holds the open
  * sessions only and is purged by the watermark, never unbounded like
  * the reference's seen-set (twitter_producer.py:202-205). */
object SessionState {

  final case class ClosedSession(
      user_id: Long, session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** events(user_id, ts, value) stream → closed-session stream. */
  def sessionize(events: DataFrame, watermark: String = "1 hour"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select($"user_id".cast("long").as("user_id"), $"ts", $"value".cast("double").as("value"))
      .withWatermark("ts", watermark)
      .groupBy($"user_id", session_window($"ts", SessionGap))
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
      .as[ClosedSession]
  }
}
