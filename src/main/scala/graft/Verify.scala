package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name substrings to run
    // (builder-side iteration aid; the driver always passes two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Fixture-drift sentinel FIRST (one loud diagnostic per drifted
    // table; queries still run so unaffected families stay green).
    Tables.sentinel(spark, sfDir).foreach(d => System.err.println(s"[sentinel] $d"))
    // Vacuous-witness ledger: several self-validating
    // reports carry an `audit_nonempty` column whose FALSE means the
    // audit slice bound nothing and the sibling theorem columns
    // (has_pairs / serve_exact / recall floors) are vacuously true —
    // a cross-engine MATCH either way, so a slice that silently stops
    // covering real cases would read green forever. Every false
    // witness observed on THIS fixture is surfaced loudly: a stderr
    // line per query and a committed-shape `witness_vacuous.json`
    // next to the results (expected non-empty only on degenerate
    // recipes, where vacuity is the documented design).
    val vacuous = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        if (df.columns.contains("audit_nonempty")) {
          val back = spark.read.parquet(s"$outDir/$name")
          val nFalse = back.filter(!org.apache.spark.sql.functions
            .col("audit_nonempty")).count()
          if (nFalse > 0) {
            vacuous += name
            System.err.println(s"[verify] $name: audit_nonempty=false — its " +
              "witness columns are VACUOUS on this fixture (audit slice bound nothing)")
          }
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/witness_vacuous.json"),
      vacuous.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
    spark.stop()
  }
}
