package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.functions.TopKBy

/** Streaming bounded top-k per group ("top events by value per event
  * type"): the [[graft.functions.TopKBy]] flat-array buffer carried as
  * `mapGroupsWithState` state — the streaming face of the batch q17
  * aggregate, completing the engine's batch↔stream parity discipline
  * for its newest aggregate. Reference shape: the live "recent top
  * tweets per sentiment" view the service keeps refreshing per poll
  * cycle (sentiment_analysis.py:640-652), here as one
  * incrementally-maintained stateful operator instead of a re-query.
  *
  * Parity argument (what the spec fuzzes): the k best of a multiset
  * under the total order (ord DESC, tie ASC) is a function of the
  * MULTISET alone, and [[TopKBy.Buffer.add]] only ever discards an
  * element once k better elements have been seen — an element it
  * discards can never re-enter ANY later top-k. So folding the stream
  * element-by-element through the buffer reaches the same final state
  * as the batch aggregate's update/merge tree, for every batch split
  * and every delivery order. (Equal (ord, tie) duplicates are kept
  * multiset-style while room remains: `beats` is strict, so an equal
  * pair never displaces — exactly the batch buffer, because it IS the
  * batch buffer.)
  *
  * Why this shape at 100 TB: state per group is O(k) FOREVER — no
  * watermark needed to bound it (the [[TrendingState]] property), and
  * each trigger touches only the groups present in the micro-batch.
  * Emission is one row per touched (group, trigger) in Update mode:
  * the current top-k plus the monotone `n_events` count, so a consumer
  * (and the parity spec) can identify each group's LATEST row without
  * trigger bookkeeping.
  */
object TopKState {

  final case class In(group: String, ord: Double, tie: Long)
  /** Encodable buffer state: the ≤ k (ord, tie) pairs, unordered
    * (the buffer's own invariant), plus the running event count. */
  final case class KState(ords: Seq[Double], ties: Seq[Long], nEvents: Long)
  final case class Entry(ord: Double, tie: Long)
  final case class TopK(group: String, top: Seq[Entry], n_events: Long)

  private def toBuffer(k: Int, s: Option[KState]): TopKBy.Buffer = {
    val buf = new TopKBy.Buffer(k)
    s.foreach { st =>
      var i = 0
      while (i < st.ords.length) { buf.add(st.ords(i), st.ties(i)); i += 1 }
    }
    buf
  }

  private[streaming] def updateKey(k: Int)(
      key: String, events: Iterator[In], state: GroupState[KState]): TopK = {
    val buf = toBuffer(k, state.getOption)
    var n = state.getOption.map(_.nEvents).getOrElse(0L)
    events.foreach { e => buf.add(e.ord, e.tie); n += 1 }
    state.update(KState(
      buf.ords.take(buf.size).toSeq, buf.ties.take(buf.size).toSeq, n))
    TopK(key, buf.sortedBestFirst.map { case (o, t) => Entry(o, t) }.toSeq, n)
  }

  /** events(group, ord, tie) stream → one TopK row per touched group
    * per trigger (Update output mode), best-first under
    * (ord DESC, tie ASC). NULL ord/tie rows are dropped before the
    * typed decode — the batch aggregate's default null handling (a
    * null can never rank under DESC NULLS LAST), and a non-nullable
    * decode would otherwise kill the streaming query. Explicit
    * isNotNull filters, NOT `na.drop()`: na.drop treats NaN as
    * missing, but the batch buffer RANKS NaN (largest, the Spark/
    * DuckDB DESC convention) — the parity fuzz catches the drop.
    *
    * Consequently `n_events` counts RANKABLE events — rows surviving
    * the null filter — NOT raw delivered rows: on null-bearing input
    * it diverges from a batch `count(lit(1))` per group (which counts
    * null-ord/tie rows too). That is the intended semantics (a count
    * of events that could ever appear in the top-k), pinned by the
    * null-semantics case in TopKStateSpec. */
  def topk(events: DataFrame, k: Int = 5): Dataset[TopK] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    events.select(
        col("group").cast("string"), col("ord").cast("double"),
        col("tie").cast("long"))
      .filter(col("group").isNotNull && col("ord").isNotNull &&
        col("tie").isNotNull).as[In]
      .groupByKey(_.group)
      .mapGroupsWithState[KState, TopK](GroupStateTimeout.NoTimeout)(
        updateKey(k))
  }
}
