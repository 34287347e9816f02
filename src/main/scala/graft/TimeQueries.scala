package graft

/** Micro-harness: time a NAMED SUBSET of the registered queries
  * (cold + warm re-runs each through [[Measure.once]] — the Bench
  * measurement shape without the full suite) so a plan change can be
  * measured in seconds, not a full bench leg. A query that throws
  * fails the run.
  *
  * With `SPARK_GRAFT_TIMEQ_JSON=<path>` set, runs the Bench estimator
  * shape (1 cold + median-of-3 warm) and writes a compact
  * `{"name":{"cold":s,"warm":s},…}` map — the sf1 scaling column
  * (`scripts/bench_sf1.py`) is assembled from this.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <name substrings...> */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session.local()
    Measure.warmUp(spark, dir)
    val jsonPath = sys.env.get("SPARK_GRAFT_TIMEQ_JSON")
    val wanted = args.drop(1)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val phases = scala.collection.mutable.LinkedHashMap
      .empty[String, (Map[String, Double], Map[String, Double])]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if wanted.exists(name.contains)) {
      val nRuns = if (jsonPath.isDefined) 4 else 3
      val runs = (0 until nRuns).map { i =>
        val Measure.Run(sec, _, ph) = Measure.once(spark, dir, fn).orFail(s"[timeq] $name run$i")
        val phStr = if (ph.isEmpty) "" else
          ph.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.2f" }.mkString(" (", " ", ")")
        println(f"[timeq] $name run$i $sec%.2f s$phStr")
        (sec, ph)
      }
      val times = runs.map(_._1)
      val warm = times.drop(1).sorted.apply((nRuns - 1) / 2)
      results(name) = (times.head, warm)
      // phase attribution: cold-run phases carry the
      // artifact build; warm-run phases (per-run average) are nonzero
      // only if something rebuilt per call — serve = warm − Σ(warm phases)
      val warmPh = runs.drop(1).flatMap(_._2)
        .groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (k, v) => k -> v / (nRuns - 1) }
      phases(name) = (runs.head._2, warmPh)
    }
    jsonPath.foreach { p =>
      def n(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      def jph(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${n(v)}""" }.mkString("{", ",", "}")
      val body = results.map { case (k, (c, w)) =>
        val (pc, pw) = phases(k)
        val pcs = if (pc.exists(_._2 >= 0.05))
          s""","phases_cold":${jph(pc.filter(_._2 >= 0.05))}""" else ""
        val pws = if (pw.exists(_._2 >= 0.05))
          s""","phases_warm":${jph(pw.filter(_._2 >= 0.05))}""" else ""
        s""""$k":{"cold":${n(c)},"warm":${n(w)}$pcs$pws}""" }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(p), body.getBytes("UTF-8"))
      println(s"[timeq] wrote $p")
    }
    spark.stop()
  }
}
