package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The shared bench estimator ([[Measure.Sample]]), Bench's row flags
  * and prior-record reader, and the JSON string escaper, on hand-built
  * runs; the per-run [[Measure.Ledger]] on a fixed query; and the lint
  * that keeps [[Measure]] the one timer. */
class MeasureSpec extends SparkSpec {

  private val noJobs = Measure.Ledger(0, 0, 0, 0, 0)
  private def ok(sec: Double, phases: Map[String, Double] = Map.empty) =
    Measure.Run(sec, None, phases, 0L, noJobs)
  private def failed(sec: Double, msg: String) = Measure.Run(-sec, Some(msg), Map.empty, 0L, noJobs)
  private def sample(cold: Double, warm: Double*) = Measure.Sample(ok(cold), warm.map(ok(_)))
  private def row(s: Measure.Sample) = Bench.Row("q", s, s)

  test("retry runs pool: warm is the upper median of all six, min/max span all six") {
    val first = sample(2.0, 1.0, 1.1, 5.0)
    assert(first.median == 1.1)
    val pooled = first.copy(warm = first.warm ++ Seq(ok(1.2), ok(1.3), ok(1.4)))
    assert(pooled.median == 1.3, "the pooled median, not the best round's 1.1")
    assert(pooled.min == 1.0 && pooled.max == 5.0)
    assert(pooled.warm.map(_.sec) == Seq(1.0, 1.1, 5.0, 1.2, 1.3, 1.4), "every run kept, in run order")
  }

  test("upper median on an even count: oks(size / 2)") {
    assert(sample(1.0, 4.0, 1.0, 3.0, 2.0).median == 3.0)
  }

  test("a failed warm run never enters the median, but its error surfaces") {
    val s = Measure.Sample(ok(2.0), Seq(ok(1.0), failed(0.1, "boom"), ok(3.0)))
    assert(s.oks == Seq(1.0, 3.0))
    assert(s.median == 3.0 && s.min == 1.0 && s.max == 3.0)
    assert(s.err.contains("warm run: boom"))
  }

  test("no successful warm run: the first warm run's negative time; no warm run: the cold run's") {
    val allFailed = Measure.Sample(ok(2.0), Seq(failed(0.5, "a"), failed(0.7, "b")))
    assert(allFailed.median == -0.5 && allFailed.min == -0.5 && allFailed.max == -0.5)
    assert(allFailed.err.contains("warm run: a"))
    val coldFailed = Measure.Sample(failed(0.3, "cold"), Nil)
    assert(coldFailed.median == -0.3 && coldFailed.err.contains("cold"))
    assert(coldFailed.phasesWarm.isEmpty)
  }

  test("warm phases are the per-run average over every warm run") {
    val s = Measure.Sample(ok(3.0, Map("build" -> 2.0)), Seq(
      ok(1.0, Map("build" -> 0.6)), ok(1.0), ok(1.0, Map("build" -> 0.3, "validate" -> 0.3))))
    assert(s.cold.phases == Map("build" -> 2.0))
    val ph = s.phasesWarm
    assert(math.abs(ph("build") - 0.3) < 1e-12 && math.abs(ph("validate") - 0.1) < 1e-12)
  }

  test("load flag on a first pass: spread above 3× or warm above 1.5× cold") {
    // spread boundary: exactly 3× is clean, above is flagged
    assert(!row(sample(10.0, 1.0, 2.0, 3.0)).loadFlagged)
    assert(row(sample(10.0, 1.0, 2.0, 3.0001)).loadFlagged)
    // warm-over-cold boundary: exactly 1.5× cold is clean, above is flagged
    assert(!row(sample(1.0, 1.4, 1.5, 1.6)).loadFlagged)
    assert(row(sample(1.0, 1.4, 1.5001, 1.6)).loadFlagged)
    // runs that all failed are never flagged (their error is reported)
    assert(!row(Measure.Sample(ok(1.0), Seq(failed(9.0, "x")))).loadFlagged)
    // a failed cold run: warm runs do not exist, nothing to judge
    assert(!row(Measure.Sample(failed(1.0, "x"), Nil)).loadFlagged)
  }

  test("after a retry: spread is judged on the latest round, warm-vs-cold on the reported warm") {
    // a wide first round followed by a tight one: the spread flag clears
    val spread = row(sample(10.0, 1.0, 2.0, 3.5)).remeasured(Seq(ok(2.0), ok(2.1), ok(2.2)))
    assert(!spread.loadFlagged && spread.pool.warm.size == 6)
    // warm 2.0–2.2 on cold 1.0, then a quick round: the reported warm is
    // the pooled 2.0, still above 1.5× cold, so the row stays flagged
    val slow = row(sample(1.0, 2.0, 2.1, 2.2)).remeasured(Seq(ok(1.0), ok(1.0), ok(1.0)))
    assert(slow.pool.median == 2.0 && slow.loadFlagged)
    // a round that failed throughout leaves the previous round as latest
    val kept = row(sample(10.0, 1.0, 2.0, 3.5)).remeasured(Seq(failed(0.1, "x")))
    assert(kept.latest.warm.size == 3 && kept.loadFlagged && kept.pool.err.isDefined)
  }

  test("prior regression is judged on the reported warm, not the latest round") {
    // prior warm 1.0; first pass 3.0–3.2, retry 1.0 ×3: the pooled warm
    // is 3.0, 3× the prior, so the row stays regressed
    val r = row(sample(10.0, 3.0, 3.1, 3.2)).remeasured(Seq(ok(1.0), ok(1.0), ok(1.0)))
    assert(r.latest.median == 1.0 && r.pool.median == 3.0)
    assert(r.regressedVsPrior(Some(1.0), scale = 1.0))
    assert(!r.regressedVsPrior(Some(1.0), scale = 1.5), "3.0 / 1.5 = 2.0× is within 2.5×")
    assert(!r.regressedVsPrior(None, scale = 1.0), "a query the prior lacks is exempt")
  }

  test("prior record: trusted only when full, sentinel-clean and on the same SF") {
    val f = java.io.File.createTempFile("bench_prior", ".json")
    try {
      def read(head: String, sf: String = "/sf") = {
        java.nio.file.Files.write(f.toPath, ("{" + head + "\"sf\":\"" + sf + "\"," +
          "\"calib_sec_start\":0.9,\"calib_sec_end\":-1," +
          "\"queries\":{\"q1\":{\"warm\":0.5},\"q2\":{\"warm\":-0.2}}}").getBytes("UTF-8"))
        Bench.priorReference(f, "/sf")
      }
      assert(read("\"sentinel_clean\":true,") == (Map("q1" -> 0.5), Seq(0.9)))
      assert(read("\"sentinel_clean\":true,\"patterns\":[\"q1\"],") == (Map.empty, Seq.empty),
        "a subset record cannot guard a full run")
      assert(read("\"sentinel_clean\":false,") == (Map.empty, Seq.empty))
      assert(read("\"sentinel_clean\":true,", sf = "/other") == (Map.empty, Seq.empty))
      f.delete()
      assert(Bench.priorReference(f, "/sf") == (Map.empty, Seq.empty), "missing file")
    } finally f.delete()
  }

  test("Json.str round-trips quote, backslash, tab, CR, LF and U+0001 through Jackson") {
    val nasty = "a\"b\\c\td\re\nf\u0001g — ü"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Json.str(nasty), classOf[String])
    assert(back == nasty)
    assert(!Json.str(nasty).exists(_ < ' '), "no raw control character in the literal")
  }

  /** A fixed aggregate: four input partitions of 500k rows each (enough
    * task work to read in milliseconds), one shuffle. */
  private def agg(s: SparkSession, dir: String): DataFrame =
    s.range(0, 2000000, 1, 4).groupBy((col("id") % 104729).as("k")).count()

  test("ledger: a fixed aggregate's jobs and stages, each run counted on its own") {
    val first = Measure.once(spark, sf, agg).orFail("agg").ledger
    val second = Measure.once(spark, sf, agg).orFail("agg").ledger
    // AQE runs the map stage as its own job (4 tasks), then the result
    // stage over the coalesced partitions
    assert(first.jobs == 2 && first.stages == 2 && first.tasks >= 5, s"first run: $first")
    assert(second.jobs == 2 && second.stages == 2 && second.tasks == first.tasks,
      s"the second run reports its own counts, not a running total: $second")
    assert(first.runMs > 0 && second.runMs > 0, s"the tasks' executor run time is summed: $second")
  }

  test("ledger: the reading waits for a slow listener bus instead of racing it") {
    // a listener on the same bus that takes 100 ms per task event holds
    // back every later event, so counts read right after the run would
    // miss the run's last stages
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val l = Measure.once(spark, sf, agg).orFail("agg").ledger
      assert(l.jobs == 2 && l.stages == 2, s"events still queued were missed: $l")
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("ledger: a new shape compiles; a second identical run of a simple aggregate compiles 0") {
    // the modulus appears in no other query, so its generated code is
    // new to the JVM on the first run
    def fresh(s: SparkSession, dir: String): DataFrame =
      s.range(0, 1000, 1, 4).groupBy((col("id") % 7919).as("k")).count()
    val cold = Measure.once(spark, sf, fresh).orFail("fresh").ledger
    val warm = Measure.once(spark, sf, fresh).orFail("fresh").ledger
    assert(cold.compiles > 0, s"the first run of a new shape must compile: $cold")
    assert(warm.compiles == 0, s"the identical second run must hit the codegen cache: $warm")
  }

  test("timing sites: only Measure, PhaseTimer and IvfProbe read System.nanoTime") {
    val sites = SourceLint.offenders("src/main/scala", """System\.nanoTime\(""".r, owner = "")
    val files = sites.map(o => java.nio.file.Paths.get(o.takeWhile(_ != ':')).getFileName.toString)
    assert(files.toSet == Set("Measure.scala", "PhaseTimer.scala", "IvfProbe.scala"),
      s"a query run is timed through graft.Measure:\n${sites.mkString("\n")}")
  }
}
