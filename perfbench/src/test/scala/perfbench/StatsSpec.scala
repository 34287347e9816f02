package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(20).contains(50.0))
    assert(Stats.tailLevel(99).contains(50.0))
    assert(Stats.tailLevel(100).contains(90.0))
    assert(Stats.tailLevel(999).contains(90.0))
    assert(Stats.tailLevel(1000).contains(99.0))
    assert(Stats.tailLevel(10000).contains(99.9))
    assert(Stats.tailLevel(100000).contains(99.99))
  }

  test("a summary of a small route reports its median but no tail") {
    val few = Stats.summarize((1 to 12).map(_.toDouble))
    assert(few.n == 12 && few.p50 == 6.0)
    assert(few.tail.isEmpty && few.tailName == "tail")
    val many = Stats.summarize((1 to 100).map(_.toDouble))
    assert(many.tail.contains(90.0) && many.tailName == "p90")
  }

  test("quantiles use the nearest rank") {
    val s = IndexedSeq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.quantile(s, 0.5) == 2.0)
    assert(Stats.quantile(s, 0.75) == 3.0)
    assert(Stats.quantile(s, 1.0) == 4.0)
    assert(Stats.quantile(s, 0.0) == 1.0)
  }

  test("row latencies join each row to the commit of its micro-batch") {
    val start = 1000000L
    val batches = Seq(
      Batch(null, 0, start, Map("triggerExecution" -> 400L, "addBatch" -> 300L), 3, 0, 0),
      Batch(null, 1, start + 400, Map("triggerExecution" -> 250L), 2, 0, 0),
      Batch(null, 2, start + 650, Map("triggerExecution" -> 100L), 1, 0, 0))
    val commits = batches.map(b => b.id -> b.commitMs).toMap
    assert(commits == Map(0L -> (start + 400), 1L -> (start + 650), 2L -> (start + 750)))
    val rows = Seq(0L -> (start - 100), 0L -> (start - 50), 0L -> start,
      1L -> (start + 350), 1L -> (start + 500), 2L -> (start + 600), 3L -> (start + 700))
    val (lat, missing) = Stats.rowLatencies(rows, commits)
    assert(lat == IndexedSeq(500.0, 450.0, 400.0, 300.0, 150.0, 150.0))
    assert(missing == 1)
  }

  test("covered time counts overlapping intervals once") {
    assert(Union.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Union.covered(Nil) == 0.0)
  }
}
