package graft

import graft.queries.Relational

/** Physical-plan assertions (the ".explain and iterate" discipline,
  * pinned as tests so regressions in plan shape fail loudly):
  * pushdown reaches the scan, dims broadcast, window top-k uses
  * group-limit, sketch aggregates partial-merge. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = finalPlan(SparkEntry.queries(name)(spark, sf))

  /** The final adaptive plan of `df` itself. The Dataset's own query
    * execution runs to the end (a `count()` or a noop write would plan
    * and run a different Dataset and leave this one's adaptive plan
    * initial), and only the final plan is read, never the initial one
    * printed beside it. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan, "collect() must finalize the adaptive plan")
        a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q01: shipdate filter and column pruning reach the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q04: dimension joins broadcast (no shuffle join for nation/region)") {
    val p = planOf("q04_customer_by_region")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dims must not sort-merge:\n$p")
  }

  test("q17: per-type top-k is a bounded two-phase aggregate — no window, no data sort") {
    val p = planOf("q17_top_events_per_type")
    // round 10: the rank-window form (even as WindowGroupLimit) sorts
    // every map partition and funnels each type into one reducer; the
    // TopKBy aggregate must plan as partial+final ObjectHashAggregate
    // with nothing but the ≤ 5·types survivors ever sorted
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected 2-phase bounded top-k agg:\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window "),
      s"per-type top-k must not plan a rank window:\n$p")
  }

  test("q104: exact-k stratified sample is a bounded two-phase aggregate — no rank window") {
    val p = planOf("q104_exact_stratified_sample")
    // the classic trap is row_number() OVER (PARTITION BY source ORDER
    // BY hash): a corpus-wide sort-shuffle that ranks every row and
    // discards most. The TopKBy form must plan partial+final bounded
    // aggregates with only the ≤ k·sources survivors exchanged.
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected 2-phase bounded top-k agg:\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window "),
      s"exact-k sample must not plan a rank window:\n$p")
  }

  test("q28: sessionize is one session_window pass + one numbering window over sessions") {
    // sessions are one batch session_window aggregation; the only
    // WindowExec is the per-user session numbering, which runs over
    // the one-row-per-session aggregate, and the event frame crosses
    // the wire once (the checkpoint + export sort sit above the tiny
    // session frame).
    val p = finalPlan(graft.queries.EventQueries.sessionizeRaw(spark, sf))
    assert("Window ".r.findAllIn(p).size == 1,
      s"expected exactly one window node (session numbering):\n$p")
    assert(p.contains("UpdatingSessions") || p.contains("session_window"),
      s"expected the native session_window aggregation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"event frame must cross the wire exactly once:\n$p")
  }

  test("q90/q162/q163: sessions and funnel steps plan no window; q90's events cross one exchange") {
    // the session grouping and the funnel steps are one aggregate over
    // userSessions — no lag + running-sum pair, no per-event step windows
    import graft.queries.EventQueries
    val ev = Tables.events(spark, sf)
    // collect() finalizes the adaptive plan; its string holds the final
    // plan and then the initial one (the final plan may fold an empty
    // stage away, e.g. q163 with no converted session)
    def executed(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val plans = Seq(
      "q90" -> executed(EventQueries.sessionFunnelOver(ev)),
      "q163" -> executed(EventQueries.funnelTimeToConvertOver(ev)),
      "q162" -> executed(EventQueries.sessionSequencesOver(ev, 20)))
    plans.foreach { case (q, p) =>
      assert(!p.contains("Window "), s"$q must plan no window node:\n$p")
      assert(p.contains("MergingSessions"), s"$q: expected the native session_window aggregation:\n$p")
    }
    val q90Final = plans.head._2.split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning\\([^,)]*".r.findAllIn(q90Final).toList
    assert(hashExchanges.size == 1 && hashExchanges.head.contains("user_id"),
      s"q90's event frame must cross exactly one exchange, on user_id:\n$q90Final")
  }

  test("q02: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = finalPlan(Relational.recentOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q19: HLL sketch plans partial+final ObjectHashAggregate (map-side merge)") {
    val p = planOf("q19_approx_distinct")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, s"expected 2-phase sketch agg:\n$p")
  }

  test("ivf assignment: fused probe expression evaluates ONCE per row, no interpreted sort") {
    // The k-cosine probe assignment is the dominant per-row cost of
    // the index build; it must run as the single codegen'd
    // ivf_probe_cells expression (not the interpreted array_sort
    // composition it replaced), and cell must derive from the
    // materialized probe_cells alias — CollapseProject must not
    // inline the expensive alias it references twice. 2 occurrences
    // here means the build went back to paying the cosines per
    // consumer.
    val p = graft.queries.SimilarityQueries.ivfAssignmentAtConf(spark, sf)
      .queryExecution.optimizedPlan.toString
    val n = "ivf_probe_cells".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 ivf_probe_cells, got $n:\n$p")
    assert(!p.contains("array_sort"), s"interpreted sort crept back:\n$p")
  }

  test("q54/q55: LSH similarity joins key on the hash bucket — no label-block cross product") {
    Seq("q54_embedding_neardups_lsh", "q55_nn_lsh").foreach { q =>
      val p = planOf(q)
      val keyedJoin = """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\]]*bucket[^\]]*\]""".r
      assert(keyedJoin.findFirstIn(p).isDefined,
        s"$q: expected an equi-join keyed on bucket:\n$p")
      assert(!p.contains("label#"), s"$q: label must not appear in the plan at all")
    }
  }

  test("q59: as-of join plans as union + window — NO join operator at all") {
    val p = planOf("q59_asof_join")
    assert(p.contains("Window"), s"expected a window carry-forward:\n$p")
    assert(!p.contains("Join"), s"as-of must not plan any join (cross-product risk):\n$p")
  }

  test("q62: range predicate is an equi-join keyed on the time bucket") {
    val p = planOf("q62_range_join_counts")
    val keyedJoin = """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\]]*bkt[^\]]*\]""".r
    assert(keyedJoin.findFirstIn(p).isDefined,
      s"expected an equi-join keyed on the bkt column:\n$p")
    assert(!p.contains("NestedLoop"), s"range join must not plan a nested loop:\n$p")
    // round 9: the LEFT bucket join + conditional count made the old
    // join-back-to-errors disappear — the whole query is ONE join
    assert("Join".r.findAllIn(p).size == 1,
      s"q62 must plan exactly one join (probe join only, no assembly join):\n$p")
  }

  test("q42: id-window blocking is a join KEY (bounded buckets), not a post-join filter") {
    val p = planOf("q42_ngram_jaccard_pairs")
    // hash-join key lists render as `...Join [source#1, blk#2], [source#3, blk#4], ...`
    val keyedJoin = """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\]]*blk[^\]]*\]""".r
    assert(keyedJoin.findFirstIn(p).isDefined,
      s"expected an equi-join keyed on the blk column:\n$p")
  }

  test("q01: domain-bounded ordered export plans as TakeOrderedAndProject") {
    // Export.domainOrdered (ORDER BY ... LIMIT cap) must eliminate the
    // RangePartitioner sampling job: one pass, per-partition top-k
    val p = planOf("q01_pricing_summary")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the bounded summary export:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no range exchange (sampling pass) for a domain-bounded export:\n$p")
  }

  test("q69: the sampling predicate is a map-side filter over a broadcast rates dim") {
    val p = planOf("q69_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), s"rates dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must not shuffle for the join:\n$p")
  }

  test("q70: the prefix-sum window partitions on (source, shard), not source alone") {
    val p = planOf("q70_token_pack")
    assert("Window .*partition.*source.*shard".r.findFirstIn(p).isDefined ||
      p.contains("windowspecdefinition(source"), // plan string form varies
      s"expected the two-level shard window:\n$p")
    assert("hashpartitioning\\(source[#0-9L]*, shard".r.findFirstIn(p).isDefined,
      s"corpus window exchange must key on (source, shard):\n$p")
  }

  test("q75: the mixture take plans as TakeOrderedAndProject") {
    val p = planOf("q75_source_mix")
    assert(p.contains("TakeOrderedAndProject"), s"expected bounded top-k:\n$p")
  }

  test("q67: corpus window partitions on (event_type, shard); offsets broadcast back") {
    // assert on the un-checkpointed core: the registered query eagerly
    // materializes the export slice, which hides the plan behind a
    // checkpoint-RDD scan. Round 10: the single event_type window
    // became the two-level quantile-shard construction — the corpus
    // window must key on (event_type, shard), never event_type alone,
    // and the per-shard offset/edge frame rides in broadcast.
    val p = finalPlan(graft.queries.EventQueries.valueWindowStatsCore(spark, sf))
    assert("hashpartitioning\\(event_type[#0-9L]*, shard".r.findFirstIn(p).isDefined,
      s"corpus window exchange must key on (event_type, shard):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shard offsets/edges must broadcast back:\n$p")
    // and the lint itself agrees: no low-card-only window over raw
    // rows anywhere in the core (the tiny-aggregate windows are the
    // sanctioned second level)
    assert(lowCardWindows(graft.queries.EventQueries.valueWindowStatsCore(spark, sf)).isEmpty,
      "q67 core must not plan a raw low-cardinality window")
  }

  test("q81: tokens compact to (doc, fp, count) map-side before any exchange; no join") {
    val p = planOf("q81_rare_token_stats")
    // partial aggregation below the first exchange is the scale story:
    // the exploded token stream never crosses the wire raw
    assert(p.contains("partial_count"), s"expected map-side partial count:\n$p")
    assert(!p.contains("Join"), s"corpus frequency must come from the window, not a join:\n$p")
    val nExchange = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nExchange == 3, // (doc,fp) compaction, fp window, doc_id rollup
      s"expected exactly 3 hash exchanges, found $nExchange:\n$p")
  }

  test("q83: the vocabulary self-join keys on the token fingerprint") {
    val p = planOf("q83_source_overlap")
    // equi-join on fp (per-key fan-out bounded by source count) — the
    // source inequality must be a post-join condition, not a cross product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair build must not cross-product:\n$p")
    // the pair join's equi-key is fp on BOTH sides — strategy may be
    // broadcast (test SF: the distinct vocab is tiny) or shuffle (at
    // scale, via AQE), but the key must be the fingerprint either way
    assert("Join \\[fp[#0-9L]*\\], \\[fp[#0-9L]*\\]".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\(fp".r.findFirstIn(p).isDefined,
      s"expected the self-join keyed on fp:\n$p")
    // size dims ride in broadcast — keyed on source_a/source_b
    // specifically (the fp self-join may ALSO broadcast at test SF, so
    // a bare contains(BroadcastHashJoin) would be vacuous)
    assert("BroadcastHashJoin \\[source_a".r.findFirstIn(p).isDefined &&
      "BroadcastHashJoin \\[source_b".r.findFirstIn(p).isDefined,
      s"both 20-row size dims must broadcast-join on their source key:\n$p")
  }

  test("q115: the weighted sample is a map-side clock + TakeOrderedAndProject — no shuffle") {
    val p = planOf("q115_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected bounded bottom-k, not a global sort:\n$p")
    assert(!p.contains("Exchange"),
      s"the clock is stateless per-row — nothing may shuffle before the take:\n$p")
  }

  test("q114: divergence counts pre-aggregate map-side; totals broadcast; top-k bounded") {
    val p = planOf("q114_token_divergence")
    assert(p.contains("partial_sum"),
      s"per-token class counts must pre-aggregate map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row class totals must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected bounded top-k over the vocabulary:\n$p")
  }

  test("q87: the global bigram top-k plans as TakeOrderedAndProject over a partial agg") {
    val p = planOf("q87_top_bigrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected bounded top-k, not a global sort:\n$p")
    assert(p.contains("partial_count"),
      s"bigram counts must pre-aggregate map-side:\n$p")
  }

  test("q85: the prefix-sum window partitions on (source, quality), not source alone") {
    val p = planOf("q85_budget_select")
    assert("hashpartitioning\\(source[#0-9L]*, quality".r.findFirstIn(p).isDefined,
      s"corpus window exchange must key on (source, quality):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"band offsets must broadcast:\n$p")
  }

  test("q84: batch and history probe meet on the 8-byte fingerprint key") {
    val p = planOf("q84_incremental_ingest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the history probe must be an equi-join on fp:\n$p")
    // the intra-batch window partitions on fp — the same key the
    // history probe uses, which is what lets a bucketed standing index
    // kill the history-side shuffle at scale. Anchor on the Window's
    // OWN partition spec: a bare hashpartitioning(fp would also match
    // the history side's distinct-aggregate exchange and guard nothing.
    assert("windowspecdefinition\\(fp".r.findFirstIn(p).isDefined,
      s"expected the intra-batch window partitioned on fp:\n$p")
  }

  test("q79: the train side passes the bloom prefilter map-side, before its exchange") {
    val p = planOf("q79_contamination")
    // bloomcontains must sit in a Filter on the train branch — grams
    // that cannot match any held-out gram die before the distinct
    // exchange (no-false-negative theorem keeps the result exact; the
    // oracle hash is the proof)
    assert(p.contains("bloomcontains"),
      s"expected the bloom prefilter in the train-side plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"contamination must stay an equi-join:\n$p")
  }

  test("q82: the impact report is a broadcast join over the labels, then one rollup") {
    val p = planOf("q82_dedup_impact")
    assert(p.contains("BroadcastHashJoin"), s"narrow docs side must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partial aggregation for the per-source rollup:\n$p")
  }

  // ------------------------------------------------------------------
  // Low-cardinality-window lint (round 10): a rank/agg window whose
  // ENTIRE partition spec is low-cardinality caps parallelism at the
  // key count — every row of a key funnels into one task (the q17
  // round-1 bug). The sweep walks the optimized logical plan of every
  // registered query; a partition spec passes if ANY of its
  // expressions is not a known low-card column (a salt, shard, id, or
  // fingerprint restores parallelism).
  // ------------------------------------------------------------------

  /** Columns the fixture (and any plausible 100 TB corpus) keeps to a
    * handful of values — a window partitioned ONLY on these cannot
    * scale out. */
  private val lowCardCols =
    Set("event_type", "final_sentiment", "language", "source", "label", "lang")

  /** Names of Window nodes in `df`'s optimized logical plan whose
    * partition spec consists solely of low-cardinality attributes AND
    * that run over raw rows. A window is exempt when an Aggregate
    * below it groups by a superset of the window's partition columns:
    * that is the second level of the sanctioned two-level pattern
    * (q70/q85 shard offsets, q63's ranking of sketch output) — its
    * input is already compacted to one row per (key, band), so the
    * single-task-per-key stage sees bounded data, not the corpus. */
  private def lowCardWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow
          if w.partitionSpec.nonEmpty && w.partitionSpec.forall {
            case a: AttributeReference => lowCardCols.contains(a.name)
            case _ => false
          } =>
        val partNames = w.partitionSpec.collect {
          case a: AttributeReference => a.name
        }.toSet
        val compactedBelow = w.child.collect {
          case a: Aggregate =>
            partNames.subsetOf(a.groupingExpressions.collect {
              case ar: AttributeReference => ar.name
            }.toSet)
        }.contains(true)
        if (compactedBelow) None
        else Some(w.partitionSpec.map(_.sql)
          .mkString("Window partitioned on (", ", ", ")"))
    }.flatten
  }

  test("q138: no forced broadcast of the vocabulary-sized score frame (VERDICT r15 #3)") {
    // The score frame carries one row per distinct token, so a
    // broadcast HINT on it grows with vocabulary — at web scale a
    // multi-GB forced ship per iteration. Size-aware planning may
    // still CHOOSE a broadcast while the frame fits (fine — that
    // decision re-evaluates at scale); what must not exist is the
    // hint. Pinned on the analyzed plan: hints are erased by the
    // optimizer, so the physical plan can't witness their absence.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = graft.queries.TextQueries.textRankTerms(spark, sf)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"broadcast hint(s) in the TextRank loop:\n$hints")
  }

  test("q145: the candidate chain carries ids+ints only — text joins in after the distinct") {
    // Late-materialization pin (round 16): the explode/join/distinct
    // candidate chain must never ship document text; texts are
    // fetched by key just before the DP. Regression witness: the
    // pair-rebalancing RepartitionByExpression and the distinct
    // Aggregate both output only ids + lengths.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, RepartitionByExpression}
    val df = graft.queries.DedupQueries
      .editDistanceNearDupsLshRaw(Tables.documents(spark, sf))
    val lp = df.queryExecution.optimizedPlan
    val reps = lp.collect { case r: RepartitionByExpression => r.output.map(_.name) }
      .filter(_.contains("doc_a"))
    assert(reps.nonEmpty, "pair-rebalance repartition missing")
    reps.foreach(o => assert(!o.exists(_.startsWith("text")),
      s"candidate repartition must not carry text: $o"))
    val dist = lp.collect { case a: Aggregate => a.output.map(_.name) }
      .filter(o => o.contains("doc_a") && o.contains("doc_b"))
    assert(dist.nonEmpty, "candidate distinct missing")
    dist.foreach(o => assert(!o.exists(_.startsWith("text")),
      s"candidate distinct must not carry text: $o"))
  }

  test("lint: no registered query plans a window partitioned solely on a low-card key") {
    val hits = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      lowCardWindows(fn(spark, sf)).map(w => s"$name: $w")
    }
    assert(hits.isEmpty,
      s"low-cardinality window partition spec(s) found — use a salted two-level " +
        s"window (TrainQueries.budgetSelect) or a bounded TopKBy aggregate " +
        s"(EventQueries.topEventsPerType):\n${hits.mkString("\n")}")
  }

  test("lint: every unpartitioned window runs over compacted (bounded) input, never the corpus (r21, VERDICT r20 #8)") {
    // The bench console-suppresses WindowExec's "No Partition Defined"
    // warning for the documented bounded-frame windows (sources-sized
    // allocation frames, the q150 top-k frame) — this pin is what
    // keeps that suppression honest: a NEW unpartitioned window over
    // corpus-sized input must fail HERE, not vanish into the filter.
    // Bounded-input witness: see [[boundedInput]].
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      unboundedWindows(fn(spark, sf)).map(w => s"$name: $w")
    }
    assert(offenders.isEmpty,
      "unpartitioned window(s) over NON-compacted input — partition the window " +
        "or compact below it (the q70/q85 two-level pattern):\n" +
        offenders.mkString("\n"))
  }

  test("lint negative case: a corpus-sized join whose OTHER branch is grouped is flagged") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val perSource = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val overJoin = docs.join(perSource, Seq("source"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
    assert(unboundedWindows(overJoin).nonEmpty,
      "a grouped branch beside a corpus-sized one must not witness the join output")
    // control: the same window over the grouped branch alone is bounded
    val overGroups = perSource.withColumn("rn", row_number().over(Window.orderBy(col("source"))))
    assert(unboundedWindows(overGroups).isEmpty)
  }

  /** Whether `p`'s output is bounded: an Aggregate (group-cardinality
    * rows — sources, shards, distinct tokens of a capped vocabulary —
    * or one row) or a Limit DOMINATES it, i.e. every row of `p` passes
    * through one. Unary operators pass the bound through; a semi/anti
    * join is bounded by its left side; any other join or n-ary node
    * needs every child bounded — a small grouped side does not bound
    * a join with a corpus-sized one. */
  private def boundedInput(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: LocalRelation => true
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti => boundedInput(j.left)
      case u: UnaryNode => boundedInput(u.child)
      case _: LeafNode => false
      case other => other.children.forall(boundedInput)
    }
  }

  /** Unpartitioned windows in `df`'s optimized plan whose input is not
    * [[boundedInput]]. */
  private def unboundedWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !boundedInput(w.child) =>
        w.windowExpressions.map(_.sql).mkString(", ").take(120)
    }
  }

  test("spreadScan is a no-op on an already-spread scan") {
    import graft.operators.Scale
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    try {
      spark.range(0, 1000, 1, target).write.parquet(s"$dir/spread")
      val spread = spark.read.parquet(s"$dir/spread")
      assert(Scale.spreadScan(spread) eq spread, "an already-spread scan is returned as is")
      spark.range(0, 1000, 1, 1).write.parquet(s"$dir/one")
      val once = Scale.spreadScan(spark.read.parquet(s"$dir/one"))
      assert(once.rdd.getNumPartitions == target, "a one-partition scan is spread")
      assert(Scale.spreadScan(once) eq once, "spreading a spread frame is a no-op")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q191 rank tail: no window, no sort; the term prune runs before the posting exchange") {
    // q191's output rows are assembled on the driver from the rank tail,
    // so the pin reads the frame that scores and ranks. The only window
    // (the rarest-term pick) runs in the query-term collect before it; a
    // Window or Sort here is the per-eval candidate sort coming back.
    val p = finalPlan(graft.queries.TextQueries.retrievalTail(spark, sf, 8)._2)
    assert(!p.contains("Window"), s"the candidate rank must be counted, not windowed:\n$p")
    assert(!p.contains("Sort ["), s"no sort over the candidates:\n$p")
    // the query terms and the twin scores broadcast into their joins
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the query-term and twin-score joins must broadcast:\n$p")
    // the query-term set filters the token stream map-side: the filter
    // sits below (prints after) the posting exchange, not above it
    val lines = p.split("\n")
    val postingEx = lines.indexWhere(_.contains("Exchange hashpartitioning(doc_id"))
    val prune = lines.indexWhere(l => l.contains("Filter") && l.contains("term") &&
      (l.contains("INSET") || l.contains(" IN (")))
    assert(postingEx >= 0 && prune > postingEx,
      s"the query-term prune must run before the posting exchange:\n$p")
  }

  test("q92: the pinned stored-NN plan is the final plan of the materialized Dataset") {
    import graft.queries.SimilarityQueries
    SimilarityQueries.ivfStoredNn(spark, sf).collect() // builds or reuses the index
    val (stored, plan) = SimilarityQueries.storedNn(spark, Artifacts.name("ivf_q92", sf))
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan)
    assert(!plan.contains("== Initial Plan =="), plan)
    assert(plan.contains("Bucketed: true"), s"home side reads the bucketed layout:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
    assert(stored.count() == spark.table(Artifacts.name("ivf_q92", sf)).count())
    val r = SimilarityQueries.ivfStoredNn(spark, sf).head()
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getLong(3) == 2L, r)
  }

  test("per-job floor: a warm q191 runs at most 14 jobs and a warm q92 at most 13") {
    // each job is planning, scheduling and generated code; a checkpoint,
    // a sort, a re-plan or an exceptAll coming back shows here first
    for ((name, most) <- Seq("q191_retrieval_eval" -> 14L, "q92_ivf_stored_nn" -> 13L)) {
      val fn = SparkEntry.queries(name)
      Measure.once(spark, sf, fn).orFail(name)
      val warm = Measure.once(spark, sf, fn).orFail(name).ledger
      assert(warm.jobs <= most, s"$name warm run: ${warm.json}")
    }
  }

  test("q196: eval grams broadcast, corpus-side gram stream never shuffles before the hit join (r18)") {
    val p = planOf("q196_span_evidence")
    // the eval side is a bounded benchmark (the q182 contract): it
    // must BROADCAST so the corpus-side gram stream surfaces matches
    // map-side instead of exchanging corpus-sized (fp, id, pos) rows
    assert(p.contains("BroadcastHashJoin"),
      s"the eval gram side must broadcast into the hit join:\n$p")
    assert(p.contains("gramfpsseq") || p.contains("GramFpsSeq") ||
      p.contains("gram_fps_seq"),
      s"expected the fused ordered-gram expression in the plan:\n$p")
    // two window NODES by design: the per-diagonal island run and the
    // per-eval top-1 — both over sparse HIT rows, never the corpus
    // (match node headers; each node's expression list also contains
    // the substring "Window" via windowspecdefinition)
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows <= 2, s"expected the two hit-row window nodes only, found $windows:\n$p")
  }

  test("q127: the gram fingerprints come from the fused expression, not interpreted lambdas (r17)") {
    val p = planOf("q127_filter_stack")
    assert(p.contains("gramfps") || p.contains("GramFps"),
      s"expected the fused GramFps expression in the plan:\n$p")
    assert(!p.contains("concat_ws"),
      s"per-gram string construction must be gone:\n$p")
  }

  test("lint regression case: the old q17 rank-window shape IS flagged") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val old = ev.withColumn("rn",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= 5)
    assert(lowCardWindows(old).nonEmpty,
      "the lint must catch the round-1 q17 anti-pattern")
  }
}
