package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.functions.FrequentItemsSketch

/** Streaming heavy hitters ("trending users" per event type): the
  * [[graft.functions.FrequentItemsSketch]] Misra–Gries buffer carried
  * as `mapGroupsWithState` state — the streaming face of the same
  * mergeable sketch the batch q57 uses.
  *
  * Why this beats windowed counts at 100 TB: state per key is
  * O(capacity) FOREVER — no watermark needed to bound it (contrast
  * [[SessionState]], whose open sessions the watermark purges) — and
  * the per-batch update is the same fold the batch aggregate runs, so
  * a replayed batch re-derives the same guarantees. Emission is one
  * row per (key, trigger): the current top-k with the sketch's exact
  * error bound, i.e. every estimate e satisfies e ≤ true ≤ e+max_err.
  */
object TrendingState {

  final case class In(event_type: String, user_id: Long)
  /** Encodable Misra–Gries state (the sketch buffer as a case class). */
  final case class MgState(counters: Map[String, Long], maxErr: Long, nEvents: Long)
  final case class Trend(
      event_type: String, top_items: Seq[String], top_ests: Seq[Long],
      max_err: Long, n_events: Long, n_tracked: Int)

  private def toBuffer(s: MgState): FrequentItemsSketch.Buffer = {
    val b = new FrequentItemsSketch.Buffer()
    s.counters.foreach { case (k, v) =>
      b.counters(org.apache.spark.unsafe.types.UTF8String.fromString(k)) = v
    }
    b.maxErr = s.maxErr
    b
  }

  private[streaming] def updateKey(capacity: Int, k: Int)(
      key: String, events: Iterator[In], state: GroupState[MgState]): Trend = {
    val prior = state.getOption.getOrElse(MgState(Map.empty, 0L, 0L))
    val buf = toBuffer(prior)
    var n = prior.nEvents
    events.foreach { e =>
      buf.add(org.apache.spark.unsafe.types.UTF8String.fromString(e.user_id.toString),
        1L, capacity)
      n += 1
    }
    val asStrings = buf.counters.map { case (k, c) => k.toString -> c }
    state.update(MgState(asStrings.toMap, buf.maxErr, n))
    val top = asStrings.toSeq.sortBy { case (item, c) => (-c, item) }.take(k)
    Trend(key, top.map(_._1), top.map(_._2), buf.maxErr, n, buf.counters.size)
  }

  /** events(event_type, user_id) stream → one Trend row per key per
    * trigger (Update output mode). NULL user_ids are dropped before
    * the typed decode, mirroring the batch sibling (q57's sketch
    * skips NULL keys): `In.user_id` is a non-nullable Long, so one
    * NULL event would otherwise kill the streaming query at the
    * decoder. */
  def trending(events: DataFrame, capacity: Int = 64, k: Int = 3): Dataset[Trend] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select($"event_type", $"user_id".cast("long"))
      .filter($"user_id".isNotNull).as[In]
      .groupByKey(_.event_type)
      .mapGroupsWithState[MgState, Trend](GroupStateTimeout.NoTimeout)(
        updateKey(capacity, k))
  }
}
