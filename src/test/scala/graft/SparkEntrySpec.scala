package graft

/** Smoke check of the flagship entry point: `SparkEntry.entry`
  * returns rows on sf0.001, and that fixture shows no schema drift. */
class SparkEntrySpec extends SparkSpec {
  test("entry: the flagship query returns rows on a drift-free sf0.001") {
    assert(Tables.sentinel(spark, sf).isEmpty)
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
