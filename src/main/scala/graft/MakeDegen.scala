package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Degenerate-fixture recipes: the ONE
  * source of truth for the corpora the degenerate sweep runs on —
  * shared by the in-JVM `DegenerateCorpusSpec` (completion contract)
  * and the committed cross-engine gate (`scripts/degen_check.py` →
  * `CORRECTNESS_DEGEN.json`), so the two can never drift apart.
  *
  * Three recipes, all derived from a REAL driver fixture dir (schema
  * exactness for free — including whichever events.ts physical-type
  * era is on disk):
  *  - `tiny`:      3 rows per table — empty groups, empty joins,
  *                 empty probe sets, sub-k corpora everywhere;
  *  - `mono`:      one document source / embedding label / event
  *                 type — every cross-source/label/type query's
  *                 "other side" is empty;
  *  - `emptydocs`: documents/events are 0-row slices (the shape a
  *                 FILTERED partition takes at 100 TB), everything
  *                 else 3 rows.
  */
object MakeDegen {
  val recipes: Map[String, (String, DataFrame) => DataFrame] = Map(
    "tiny" -> ((_, df) => df.limit(3)),
    "mono" -> {
      case ("documents", df)  => df.filter(col("source") === "src1").limit(50)
      case ("embeddings", df) => df.filter(col("label") === 0).limit(50)
      case ("events", df)     => df.filter(col("event_type") === "view").limit(50)
      case (_, df)            => df.limit(5)
    },
    "emptydocs" -> {
      case ("documents", df) => df.limit(0)
      case ("events", df)    => df.limit(0)
      case (_, df)           => df.limit(3)
    })

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Derive one recipe's fixture dir. Reads the RAW parquet (plain
    * spark.read, not the adaptive loader) so the derived fixture is
    * byte-era-identical to the source. */
  def derive(spark: SparkSession, inDir: String, outDir: String,
      recipe: String): String = {
    val xf = recipes(recipe)
    tables.foreach { t =>
      val raw = spark.read.parquet(s"$inDir/$t.parquet")
      xf(t, raw).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    outDir
  }

  /** CLI: derive all three recipes under outBase/<recipe>/.
    * Usage: runMain graft.MakeDegen [inDir] [outBase] */
  def main(args: Array[String]): Unit = {
    val in = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outBase = if (args.length > 1) args(1) else "/tmp/graft_degen"
    val spark = Session.local(shufflePartitions = Some(8))
    recipes.keys.toSeq.sorted.foreach { r =>
      derive(spark, in, s"$outBase/$r", r)
      println(s"[makedegen] derived $r → $outBase/$r")
    }
    spark.stop()
  }
}
