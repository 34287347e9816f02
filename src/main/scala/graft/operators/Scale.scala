package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Skew- and shuffle-management utilities (the 100 TB toolbox the
  * fixture scale can't exercise for real but whose plan shapes are
  * asserted in ScaleSpec):
  *
  *  - AQE's skew-join splitting handles sort-merge join skew at
  *    runtime (on by default — ScaleSpec pins that it actually fires
  *    on a hot-key join, and MIGRATION.md §skew gives the full
  *    decision rule); salting remains the tool for skewed
  *    AGGREGATIONS (AQE never splits an agg's hash partition) and
  *    for broadcast-averse hot-key joins.
  *  - Bucketed tables co-locate both sides of a frequent equi-join at
  *    write time: the join then plans with zero Exchange.
  */
object Scale {

  /** Two-phase salted aggregation: count/sum-like aggs over a key
    * whose distribution is heavily skewed. Phase 1 spreads each hot
    * key across `salt` reducers ((key, salt) partial agg), phase 2
    * merges the partials per key. Identical result to a direct
    * groupBy; the first shuffle is balanced even if one key owns 90%
    * of rows.
    *
    * `saltBy` must be a per-row DETERMINISTIC discriminator (a
    * primary key or any column that varies within a hot key): the
    * salt is `hash(saltBy) mod salt`, so task retries and AQE
    * re-partitioning replay byte-identical salts — unlike a
    * partition-id/rowid salt, which is correct (any assignment
    * works) but makes replays nondeterministic. */
  def saltedCount(df: DataFrame, key: Column, saltBy: Column, salt: Int): DataFrame =
    df.withColumn("_salt", pmod(hash(saltBy), lit(salt)))
      .groupBy(key.as("key"), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col("key"))
      .agg(sum("_partial").as("cnt"))

  /** Salted equi-join of a skewed fact side against a small-ish dim
    * that is still too large (or too row-multiplying) to broadcast:
    * fact rows get a per-row salt in [0, salt); the dim side is
    * replicated `salt` ways; the join key becomes (key, salt) so one
    * hot key spreads over `salt` reducers. `saltBy`: see
    * [[saltedCount]] — a deterministic per-row discriminator. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, saltBy: Column, salt: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt", pmod(hash(saltBy), lit(salt)))
    val replicatedDim = dim.withColumn("_salt", explode(lit((0 until salt).toArray)))
    saltedFact.join(replicatedDim, Seq(key, "_salt")).drop("_salt")
  }

  /** Materialization point for ITERATIVE / multiply-consumed
    * relations (the q43 signature table, the q66/q82 label-propagation
    * loop state, the q58/q74 IVF assignments): truncates lineage so a
    * plan consumed by several branches — or grown across loop
    * iterations — is computed once and never re-derived from its full
    * ancestry.
    *
    * Reliability switch (`spark.graft.checkpoint.dir`): unset (the
    * local[*] default), this is `localCheckpoint()` — executor-local
    * blocks, no filesystem round-trip, blocks freed by the
    * ContextCleaner when the plan is GC'd. That is the right local
    * tool but is LINEAGE-UNSAFE under executor loss on a real
    * cluster: the truncated plan cannot recompute a lost block, and
    * with dynamic allocation an idle executor decommission kills the
    * job. On a cluster, set `spark.graft.checkpoint.dir` to a
    * durable path (HDFS/object store) and the same call sites become
    * reliable `checkpoint()`s — files survive executor loss and the
    * driver can re-read them. One conf, no call-site changes; the
    * checkpoint dir is applied to the SparkContext on first use.
    * Both forms are eager. */
  def checkpointed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpoint.dir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir stores a fresh UUID SUBDIRECTORY of the
        // given path and getCheckpointDir returns it fully QUALIFIED
        // (file:/dir/<uuid>), so comparing the context's value against
        // the raw conf can never match (and bare prefix tests
        // false-match /a against /ab). Track the last conf value we
        // applied ourselves and re-apply only when it changes —
        // first-wins would silently checkpoint into a directory the
        // operator believes is no longer in use. The tracked pair is
        // JVM-global but the dir lives on the SparkContext, so a
        // restarted context (or another caller's setCheckpointDir)
        // would desync an unchanged conf value: remember the QUALIFIED
        // dir we applied and re-apply whenever the current context's
        // dir is not that exact value (covers restart, external
        // clear, and external overwrite in one check).
        // check-and-apply must be atomic: two concurrent callers
        // interleaving get/set could store the LOSING thread's pair
        // and force a redundant setCheckpointDir (extra UUID dir) on
        // the next call. setCheckpointDir itself is
        // cheap and rare, so a plain lock beats a CAS retry loop.
        appliedCheckpointDir.synchronized {
          val prev = appliedCheckpointDir.get()
          if (prev == null || prev._1 != dir ||
            !sc.getCheckpointDir.contains(prev._2)) {
            sc.setCheckpointDir(dir)
            appliedCheckpointDir.set((dir, sc.getCheckpointDir.get))
          }
        }
        // Reliable checkpoint files are NEVER deleted by default:
        // each q66/q82 label-propagation iteration writes one, so a
        // long cluster job accumulates durable files without bound.
        // cleanCheckpoints makes the ContextCleaner remove a
        // checkpoint's files when its RDD is GC'd (the same lifecycle
        // localCheckpoint blocks get); it is a context-startup conf,
        // so we can only warn here — see MIGRATION.md cluster confs.
        if (!warnedCheckpointGrowth.getAndSet(true) &&
          !sc.getConf.getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints",
            defaultValue = false)) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "spark.graft.checkpoint.dir is set but " +
              "spark.cleaner.referenceTracking.cleanCheckpoints is false: " +
              "iterative operators (dedup clustering) will accumulate " +
              s"checkpoint files under $dir without bound. Set the cleaner " +
              "conf at context startup, or clean the directory between jobs.")
        }
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  private val warnedCheckpointGrowth = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** (conf value we applied, qualified dir the context returned for it). */
  private val appliedCheckpointDir =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  /** Spread an under-partitioned scan before a heavy per-row
    * projection: small fixtures arrive as one parquet row-group
    * → ONE scan partition, which serializes everything projected
    * directly after the scan (the q131/q145/q58 lesson, measured at
    * 2–4 s per site at sf0.1). Repartitioning UNCONDITIONALLY is the
    * wrong scale shape though — a 100 TB scan already yields
    * thousands of partitions, and a blanket round-robin repartition
    * would add a full corpus shuffle (and with numPartitions below
    * the scan's count, even REDUCE parallelism). So: shuffle only
    * when the scan yields fewer than half of defaultParallelism —
    * scale-adaptive by construction, a no-op exactly where the
    * shuffle would cost something. Row-identical either way
    * (round-robin repartition reassigns rows, never changes them;
    * sort-before-repartition keeps the assignment retry-safe).
    *
    * The partition count is read off `df`'s own physical plan — its
    * output partitioning where the plan fixes one (an exchange, a
    * bucketed scan), else its file scans' splits — so deciding builds
    * no second plan, and spreading a spread frame is a no-op. */
  def spreadScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    val partitions = plan.outputPartitioning.numPartitions match {
      case 0 => plan.collect { case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions }.sum
      case n => n
    }
    if (partitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Chain syntax for [[checkpointed]]:
    * `df.transform(...).reliableCheckpoint()`. */
  implicit class CheckpointOps(private val df: DataFrame) {
    def reliableCheckpoint(): DataFrame = checkpointed(df)
  }

  /** Gate for intentionally-quadratic ORACLE-TIER operators (q45/q47:
    * exhaustive within-block pair enumeration kept as the small-sf
    * ground truth for their LSH scale siblings q54/q55). Counting the
    * input is one cheap metadata-backed job; past
    * `spark.graft.oracleTier.maxRows` (default 100k) the operator
    * refuses to run rather than silently planning O(n²/L) work at
    * scale — the caller is pointed at the scale-path sibling. */
  def oracleTierGuard(df: DataFrame, what: String, scalePath: String): DataFrame = {
    val cap = df.sparkSession.conf
      .getOption("spark.graft.oracleTier.maxRows").getOrElse("100000").toLong
    val n = df.count()
    require(n <= cap,
      s"$what is an oracle-tier operator (quadratic-within-block pair enumeration) " +
        s"and its input has $n rows > the $cap-row cap. Use $scalePath at scale, " +
        "or raise spark.graft.oracleTier.maxRows to run it anyway.")
    df
  }

  /** Bucketed write: co-locates (and co-sorts, by `key` then
    * `thenBy`) a table on its join key so repeated equi-joins /
    * aggregations on that key plan with no Exchange. The write
    * shuffles once; every subsequent join reads pre-partitioned data.
    * An `append` with the same spec lands its files in the same
    * logical buckets, so later reads see every generation. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      thenBy: Seq[String] = Nil, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, key).sortBy(key, thenBy: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Bit-interleaved Morton code of two BUCKET-ID columns. Inputs
    * must be in [0, 2^31): the spread keeps 32 bits per input, so
    * larger values collide, and a b-value ≥ 2^31 would reach the Long
    * sign bit and break z monotonicity under signed comparison.
    * [[zorderWrite]] feeds quantile-bucket ids in [0, gridBuckets],
    * which always satisfy the contract. */
  private[graft] def interleaveBits(a: Column, b: Column): Column = {
    // spread the low 32 bits of x so bit i lands at position 2i —
    // classic Morton spreading via shift-or-mask rounds, expressed as
    // Catalyst bit ops (codegen'd; no UDF)
    def spread(x: Column): Column = {
      var v = x.bitwiseAND(lit(0xffffffffL))
      v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000ffff0000ffffL))
      v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
      v = (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x5555555555555555L))
      v
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ORDER layout rewrite: writes `df` clustered by the Morton
    * order of (c1, c2) QUANTILE-BUCKET ids across `files` output
    * files. A linear sort on one column makes every file span the
    * FULL domain of the other; the z-curve makes each file cover a
    * compact rectangle in BOTH dimensions, so min/max file skipping
    * prunes selective filters on EITHER column — the standard
    * multi-dimensional data-skipping layout at 100 TB (each parquet
    * footer's column min/max is the skipping index; ScaleSpec
    * measures the span shrink on both columns vs a linear sort).
    *
    * Plan shape (not three chained repartitionByRange shuffles, each
    * of whose RangePartitioner sampling pass would re-execute the
    * upstream shuffle): ONE `percentile_approx`
    * aggregation computes `gridBuckets−1` cutpoints per column (a
    * mergeable GK sketch — map-side partials, one tiny driver-side
    * result, the same bounded-collect pattern as the IVF centroids);
    * bucket ids are then a pure projection against the cutpoint
    * LITERALS (count of cutpoints ≤ v — monotone, so Morton order is
    * preserved), and the only shuffle is the final
    * `repartitionByRange(files, z)`. Quantile buckets also equalize
    * per-bucket row counts by construction, which partition-id
    * bucketing only approximated. */
  def zorderWrite(df: DataFrame, c1: String, c2: String, path: String,
                  files: Int = 16, gridBuckets: Int = 64): Unit = {
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    // backtick-quote interpolated identifiers (names with dots/spaces/
    // reserved words would otherwise fail to resolve)
    def bq(n: String): String = "`" + n.replace("`", "``") + "`"
    // monotone numeric view of a cluster column: numerics and
    // timestamps cast to double directly; dates go through timestamp.
    // Anything else (string, binary …) fails loudly — the quantile
    // path cannot bucket it, and silently writing a single-bucket
    // layout would be worse than the error.
    def toD(n: String): Column = df.schema(n).dataType match {
      case _: NumericType | TimestampType => col(bq(n)).cast("double")
      case DateType => col(bq(n)).cast("timestamp").cast("double")
      case other => throw new IllegalArgumentException(
        s"zorderWrite clusters on numeric/timestamp/date columns; '$n' is ${other.sql}")
    }
    // internal column names that cannot shadow (and then silently
    // drop) a user column of the same name
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !df.columns.contains(n)).get
    val cz = fresh("_zorder_z")
    val fracs = (1 until gridBuckets).map(i => i.toDouble / gridBuckets).toArray
    // accuracy 1000 ⇒ rank error ≤ 0.1% — far below the 1/gridBuckets
    // bucket width the layout resolves; the sketch update is ~3×
    // cheaper than the 10000-accuracy default
    val cutsRow = df.agg(
      percentile_approx(toD(c1), lit(fracs), lit(1000)).as("c1"),
      percentile_approx(toD(c2), lit(fracs), lit(1000)).as("c2")
    ).head()
    // null cutpoint array = all-null column → single bucket 0
    def cuts(i: Int): Array[Double] =
      if (cutsRow.isNullAt(i)) Array.empty
      else cutsRow.getSeq[Double](i).distinct.toArray
    // bucket id = #cutpoints ≤ v (monotone in v, codegen'd binary
    // search); NULL values get a null z and sort first — still written
    def bucketOf(c: String, cut: Array[Double]): Column =
      if (cut.isEmpty) lit(0L)
      else graft.functions.expressions.quantile_bucket(toD(c), cut)
    df.withColumn(cz, interleaveBits(bucketOf(c1, cuts(0)), bucketOf(c2, cuts(1))))
      .repartitionByRange(files, col(cz))
      .sortWithinPartitions(cz)
      .drop(cz)
      .write.mode("overwrite").parquet(path)
  }
}
