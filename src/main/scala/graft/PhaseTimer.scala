package graft

/** Wall-clock phase attribution for artifact-lifecycle queries: the
  * stored-index rows (q92/q116/q144/q146–q148,
  * the BM25/neardup/PCA/BPE artifact families) pay an EAGER artifact
  * build (`saveAsTable` inside the query function, build-if-absent)
  * on their first run of a session, then serve from the stored table
  * on every later run. Priced as one number, the sf1 growth column
  * would overstate serve-path growth wherever a 10× corpus rebuild
  * lands in-measurement.
  *
  * [[Artifacts.ensure]] runs every artifact build under
  * `timed("build")` (and q92 wraps its live-pipeline comparison in
  * `timed("validate")`);
  * [[Measure.once]] drains the accumulator around each measured run and
  * stamp per-phase seconds into BENCH_FULL.json / the sf1 scaling
  * column, so "build once" and "query many" are priced separately —
  * the split the 100 TB lifecycle design exists for.
  *
  * Only EAGER work inside a query function is attributable here (the
  * returned DataFrame's lazy plan executes inside the harness's noop
  * write, outside any wrapper) — which is exactly the build/serve
  * boundary: builds are eager `saveAsTable`s, serve is the lazy plan.
  *
  * Accumulation is process-global and drained by the single-threaded
  * measurement harnesses; nested `timed` calls double-count and are
  * not used. */
object PhaseTimer {
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally acc
      .computeIfAbsent(phase, _ => new java.util.concurrent.atomic.LongAdder)
      .add(System.nanoTime() - t0)
  }

  /** Seconds per phase since the last drain; resets the accumulator.
    * Phases with zero accumulated time are omitted. */
  def drain(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
      .map { case (k, v) => k -> v.sumThenReset() / 1e9 }
      .filter(_._2 > 0.0)
      .toMap
  }
}
