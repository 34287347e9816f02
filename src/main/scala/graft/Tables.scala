package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver-generated fixture tables
  * (see TESTDATA.md / FIXTURES.md §2). One method per table so query
  * code reads declaratively; column pruning + filter pushdown reach
  * the parquet scan because these are plain `spark.read.parquet`
  * relations (no caching, no collect).
  *
  * At cluster scale the same loaders work unchanged: paths become
  * object-store URIs and Catalyst handles partition discovery.
  */
object Tables {
  /** Parquet schema cache keyed by file path + content signature.
    * Footer-based schema inference costs a synchronous driver-side
    * read per `spark.read.parquet` call; across a 100-query bench
    * that is seconds of pure overhead. Schemas are a property of the
    * file CONTENTS, so the key carries a content signature: if the
    * driver regenerates a fixture mid-session (events.ts has flipped
    * TIMESTAMP(NANOS) → TIMESTAMP(MICROS) that way), the stale entry
    * is simply never hit again. File listing itself is
    * cached by Spark's shared FileStatusCache.
    *
    * The signature is taken from LEAF FILES: for a
    * directory-shaped dataset the key is max-mtime + total-length +
    * count over its part files, because directory mtime alone is
    * unreliable exactly where it matters — S3A fake directories
    * report mtime 0, and an HDFS in-place part-file rewrite leaves
    * the directory mtime untouched. Plain files key on their own
    * mtime + length. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def cacheKey(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val sig = try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        val parts = fs.listStatus(p)
          .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        if (parts.isEmpty) st.getModificationTime.toString
        else s"${parts.map(_.getModificationTime).max}-${parts.map(_.getLen).sum}-${parts.length}"
      } else s"${st.getModificationTime}-${st.getLen}"
    } catch { case _: Exception => "0" } // missing file: let spark.read raise the real error
    s"$path@$sig"
  }

  private def loadSchema(s: SparkSession, path: String): StructType =
    schemaCache.computeIfAbsent(cacheKey(s, path), _ => s.read.parquet(path).schema)

  private def load(s: SparkSession, path: String): DataFrame =
    s.read.schema(loadSchema(s, path)).parquet(path)

  def region(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/lineitem.parquet")

  /** Type-adaptive events loader. The fixture's `ts` column has been
    * generated two ways across driver rounds:
    *   - parquet TIMESTAMP(NANOS): Spark's reader rejects NANOS unless
    *     `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces it
    *     as LongType raw nanos → floor-divide to micros (DuckDB's own
    *     ns→TIMESTAMP truncation, so oracles agree).
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
    *     TIMESTAMP_NTZ → cast to the session TimestampType (sessions
    *     here run UTC, so the micros value is unchanged; downstream
    *     code and oracle outputs see the exact type the NANOS path
    *     produced).
    * Branching on the OBSERVED schema instead of hard-coding either
    * era means a future fixture regen costs zero red queries. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema =
      try loadSchema(s, path)
      catch {
        case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
          // Legacy-era fixture: NANOS is unreadable without this conf, so
          // setting it is scoped to the case where it is required.
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          loadSchema(s, path)
      }
    val raw = s.read.schema(schema).parquet(path)
    schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"fixture schema drift: events.ts is ${other.simpleString}; expected LONG(nanos), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  def documents(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/embeddings.parquet")

  // ---------------------------------------------------------------------
  // Fixture schema sentinel
  // ---------------------------------------------------------------------

  /** Canonical POST-LOAD schema per table: what query code may assume
    * after calling the loader (so the events entry is the ADAPTED type,
    * TimestampType, regardless of which fixture era is on disk).
    * Timestamp-bearing raw columns are allowed to surface as either
    * TIMESTAMP or TIMESTAMP_NTZ — both eras are in the wild and all
    * consumers handle them — so those are matched loosely. */
  private val anyTimestamp: Set[DataType] = Set(TimestampType, TimestampNTZType)

  private val expectedSchemas: Map[String, Seq[(String, Either[DataType, Set[DataType]])]] = {
    def exact(d: DataType): Either[DataType, Set[DataType]] = Left(d)
    val anyTs: Either[DataType, Set[DataType]] = Right(anyTimestamp)
    Map(
      "region" -> Seq("r_regionkey" -> exact(IntegerType), "r_name" -> exact(StringType)),
      "nation" -> Seq("n_nationkey" -> exact(IntegerType), "n_name" -> exact(StringType),
        "n_regionkey" -> exact(IntegerType)),
      "customer" -> Seq("c_custkey" -> exact(LongType), "c_name" -> exact(StringType),
        "c_nationkey" -> exact(IntegerType), "c_acctbal" -> exact(DoubleType),
        "c_mktsegment" -> exact(StringType)),
      "supplier" -> Seq("s_suppkey" -> exact(LongType), "s_name" -> exact(StringType),
        "s_nationkey" -> exact(IntegerType), "s_acctbal" -> exact(DoubleType)),
      "part" -> Seq("p_partkey" -> exact(LongType), "p_name" -> exact(StringType),
        "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
        "p_size" -> exact(IntegerType), "p_retailprice" -> exact(DoubleType)),
      "orders" -> Seq("o_orderkey" -> exact(LongType), "o_custkey" -> exact(LongType),
        "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
        "o_orderdate" -> anyTs, "o_orderpriority" -> exact(StringType)),
      "lineitem" -> Seq("l_orderkey" -> exact(LongType), "l_partkey" -> exact(LongType),
        "l_suppkey" -> exact(LongType), "l_linenumber" -> exact(IntegerType),
        "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
        "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
        "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
        "l_shipdate" -> anyTs),
      "events" -> Seq("event_id" -> exact(LongType), "ts" -> exact(TimestampType),
        "user_id" -> exact(LongType), "event_type" -> exact(StringType),
        "value" -> exact(DoubleType), "props" -> exact(StringType)),
      "documents" -> Seq("doc_id" -> exact(LongType), "text" -> exact(StringType),
        "lang" -> exact(StringType), "source" -> exact(StringType),
        "n_chars" -> exact(LongType)),
      "embeddings" -> Seq("vec_id" -> exact(LongType),
        "embedding" -> exact(ArrayType(FloatType, containsNull = true)),
        "label" -> exact(IntegerType))
    )
  }

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Fixture-drift sentinel: load every fixture table and diff its
    * post-load schema against the canonical contract above. Returns one
    * human-readable diagnostic line per drift (empty = all green).
    * Bench and Verify run this FIRST, so a driver-side fixture regen
    * that changes a physical type costs one loud line instead of N
    * opaque per-query analysis errors (one such regen failed 24
    * queries). */
  def sentinel(s: SparkSession, dir: String): Seq[String] = {
    expectedSchemas.toSeq.sortBy(_._1).flatMap { case (table, expected) =>
      val actual: Either[String, StructType] =
        try Right(loaders(table)(s, dir).schema)
        catch { case e: Exception => Left(s"load failed: ${e.getMessage}") }
      actual match {
        case Left(err) => Seq(s"fixture schema drift: $table — $err")
        case Right(st) =>
          val actualMap = st.fields.map(f => f.name -> f.dataType).toMap
          val missing = expected.collect { case (n, _) if !actualMap.contains(n) => n }
          val mismatched = expected.collect {
            case (n, Left(dt)) if actualMap.contains(n) && actualMap(n) != dt =>
              s"$n is ${actualMap(n).simpleString} ≠ expected ${dt.simpleString}"
            case (n, Right(dts)) if actualMap.contains(n) && !dts.contains(actualMap(n)) =>
              s"$n is ${actualMap(n).simpleString} ∉ expected {${dts.map(_.simpleString).mkString(", ")}}"
          }
          val extra = st.fields.map(_.name).filterNot(expected.map(_._1).toSet)
          val problems = missing.map(n => s"$n missing") ++ mismatched ++
            extra.map(n => s"$n unexpected")
          if (problems.isEmpty) Nil
          else Seq(s"fixture schema drift: $table — ${problems.mkString("; ")}")
      }
    }
  }
}
