package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Native AS-OF join — the whole-operator tier (c) of the build
  * rules: a custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`
  * installed on a session by [[graft.Session.install]].
  *
  * Semantics (backward as-of, the DuckDB/Pandas default): for every
  * left row, the single right row with equal join keys and the
  * LARGEST right time ≤ the left time; left rows with no such match
  * get nulls (left-outer flavor — callers filter if they want inner).
  * Among right rows tied on (keys, time) the last in sort order wins
  * (same caveat as q59: the oracle's ASOF picks an arbitrary tied
  * row, so hash-checked queries must run on tie-free slices).
  *
  * The PHYSICAL plan is the one that survives 100 TB: both sides
  * hash-partitioned on the join keys and sorted by (keys, time) —
  * Catalyst's EnsureRequirements inserts the exchanges/sorts from
  * the declared requirements, so AQE still replans them — then ONE
  * streaming merge pass per partition with O(1) state (the single
  * best-so-far right row). Nothing buffers a key group, so a
  * mega-key costs O(rows), not O(rows²); contrast the q59
  * formulation, which realizes the same semantics via
  * union + last(ignoreNulls) window but carries every left row
  * through the window sort. */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    allowExact: Boolean = true) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]. Stateless; installed once
  * per session by [[graft.Session.install]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, ae) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r), ae) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan,
    allowExact: Boolean = true) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  /** Both children clustered on the equi-keys: EnsureRequirements
    * co-partitions them exactly as it does for a sort-merge join. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys..., time) ascending on both sides — the merge invariant. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    // strict mode (pandas allow_exact_matches=False): the advance
    // test becomes < instead of ≤, so a right row at EXACTLY the left
    // time is neither matched nor consumed — it stays buffered and is
    // picked up by the next left row whose time exceeds it. Same O(1)
    // state, one comparison changed.
    val advanceBound = if (allowExact) 0 else -1
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (lIter.isEmpty) Iterator.empty
      else {
        // (keys, time) projected together so one natural-ordering
        // comparison answers both "same key?" (prefix) and the merge
        // advance test (whole row ≤)
        val lKtProj = UnsafeProjection.create(lKeys :+ lTime, lOut)
        val rKtProj = UnsafeProjection.create(rKeys :+ rTime, rOut)
        val keyTypes = lKeys.map(_.dataType)
        val ktOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(keyTypes :+ lTime.dataType)
        val keyOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(keyTypes)
        val keyOnlyFromL = UnsafeProjection.create(lKeys, lOut)
        val keyOnlyFromR = UnsafeProjection.create(rKeys, rOut)
        val nullRight = new GenericInternalRow(rOut.length)
        val joined = new JoinedRow
        // bind against the NULLABLE-marked right attributes (this
        // node's output), not right.output — an unmatched left row
        // fills the right side with nulls, and a projection bound to
        // a non-nullable double would read them as 0.0
        val outAttrs = lOut ++ rOut.map(_.withNullability(true))
        val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

        new Iterator[InternalRow] {
          // best-so-far right row for the key currently being merged —
          // the operator's ENTIRE cross-row state
          private var matched: UnsafeRow = _
          private var matchedKey: UnsafeRow = _
          private var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            val lKt = lKtProj(l)
            numOutputRows += 1
            // SQL semantics for NULL: an equality never holds on a
            // null key and r.time <= l.time never holds on a null
            // time — a left row with any null key/time field can
            // match nothing (the natural ordering would otherwise
            // treat null==null as equal and match them)
            if (lKt.anyNull) {
              resultProj(joined(l, nullRight))
            } else {
              val lKeyRow = keyOnlyFromL(l)
              // a buffered match from an earlier key is stale
              if (matched != null && keyOrd.compare(matchedKey, lKeyRow) != 0) {
                matched = null
                matchedKey = null
              }
              // consume right rows that are ≤ (lKeys, lTime); the last
              // one with an exactly-equal key is the as-of match.
              // Null-bearing right rows sort FIRST under the natural
              // ordering, so they are consumed (and discarded — they
              // can never equal a non-null key or satisfy the time
              // bound) before any real candidate.
              var advancing = rRow != null
              while (advancing) {
                val rKt = rKtProj(rRow)
                if (ktOrd.compare(rKt, lKt) <= advanceBound) {
                  if (!rKt.anyNull &&
                      keyOrd.compare(keyOnlyFromR(rRow), lKeyRow) == 0) {
                    matched = rRow.asInstanceOf[UnsafeRow].copy()
                    matchedKey = lKeyRow.copy()
                  }
                  rRow = if (rIter.hasNext) rIter.next() else null
                  advancing = rRow != null
                } else {
                  advancing = false
                }
              }
              if (matched != null) {
                numMatched += 1
                resultProj(joined(l, matched))
              } else {
                resultProj(joined(l, nullRight))
              }
            }
          }
        }
      }
    }
  }
}

/** Custom optimizer rule: a bare custom logical node is a PUSHDOWN
  * BARRIER — Catalyst's PushDownPredicates only knows built-in nodes,
  * so any Filter above an [[AsOfJoin]] would otherwise pin every
  * predicate above the join and the scans would read everything.
  * Two sound moves restore pushdown (and with it partition pruning /
  * parquet PushedFilters at 100 TB):
  *
  *  - a deterministic predicate referencing only LEFT columns pushes
  *    into the left child: the join is left-preserving (exactly one
  *    output row per left row, right columns untouched by left
  *    membership), so filtering left rows before or after the join
  *    is the same set;
  *  - a predicate referencing only the left JOIN KEYS additionally
  *    mirrors to the right child under the key equivalence (right
  *    rows whose keys cannot survive the left filter can never be
  *    matched — dropping them early changes no output).
  *
  * Predicates touching right columns stay above the join: the right
  * side is null-producing (left-outer flavor), so pushing them would
  * drop unmatched left rows — the same reason Catalyst never pushes
  * filters into the null side of an outer join. */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.AttributeMap
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoin) =>
      // Catalyst's convention (PushDownPredicates): only the
      // DETERMINISTIC PREFIX of the conjunction may move — pushing a
      // deterministic conjunct written after a non-deterministic one
      // would change the row stream the non-deterministic predicate
      // evaluates over
      val (candidates, stayUp) = splitConjunctivePredicates(cond)
        .span(_.deterministic)
      val (leftOnly, rest0) =
        candidates.partition(_.references.subsetOf(aj.left.outputSet))
      val rest = rest0 ++ stayUp
      if (leftOnly.isEmpty) f
      else {
        // mirror map built from POSITIONAL key pairs, kept only where
        // both sides are bare attributes (collect-then-zip would
        // misalign the pairs if any key were a computed expression)
        val keyPairs = aj.leftKeys.zip(aj.rightKeys).collect {
          case (a: Attribute, b: Attribute) => a -> b
        }
        val keyMap = AttributeMap(keyPairs)
        val mirrorable = org.apache.spark.sql.catalyst.expressions
          .AttributeSet(keyPairs.map(_._1))
        val mirrored = leftOnly
          .filter(_.references.subsetOf(mirrorable))
          .map(_.transform { case a: Attribute if keyMap.contains(a) => keyMap(a) })
        val newLeft = Filter(leftOnly.reduce(org.apache.spark.sql.catalyst
          .expressions.And), aj.left)
        val newRight = if (mirrored.isEmpty) aj.right
          else Filter(mirrored.reduce(org.apache.spark.sql.catalyst
            .expressions.And), aj.right)
        val pushed = aj.copy(left = newLeft, right = newRight)
        if (rest.isEmpty) pushed
        else Filter(rest.reduce(org.apache.spark.sql.catalyst.expressions.And), pushed)
      }
  }
}

/** The pruning twin of [[PushFilterThroughAsOfJoin]]: ColumnPruning
  * cannot see into an unknown binary node either, so a projection
  * above [[AsOfJoin]] would otherwise read EVERY column of both
  * children through the scans, exchanges and sorts. A Project over
  * the node narrows each child to the columns the projection (plus
  * the join keys and times) actually references; Catalyst's own
  * ColumnPruning then carries those Projects down to the scans
  * (ReadSchema). Fixpoint-safe: once children are narrowed the
  * widths match and the rule no longer fires. */
object PruneColumnsThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, aj: AsOfJoin) =>
      val needed = p.references ++
        AttributeSet(aj.leftKeys.flatMap(_.references)) ++
        AttributeSet(aj.rightKeys.flatMap(_.references)) ++
        aj.leftTime.references ++ aj.rightTime.references
      val lKeep = aj.left.output.filter(needed.contains)
      val rKeep = aj.right.output.filter(needed.contains)
      if (lKeep.length == aj.left.output.length &&
          rKeep.length == aj.right.output.length) p
      else p.copy(child = aj.copy(
        left = Project(lKeep, aj.left),
        right = Project(rKeep, aj.right)))
  }
}

object AsOfJoin {
  /** Backward as-of join (left-outer): for each `left` row, the
    * `right` row whose `rightKeys` equal the row's `leftKeys` with
    * the largest `rightTimeCol` ≤ `leftTimeCol`. The output carries
    * every column of both inputs, so all names must be distinct
    * across the two sides (alias the right side's key/payload
    * columns before calling — always possible, never ambiguous).
    *
    * `tolerance` (pandas `merge_asof(tolerance=…)` parity):
    * when set, a match additionally requires
    * `rightTime ≥ leftTime − tolerance` — pass an interval column for
    * timestamp times (`expr("INTERVAL 600 SECONDS")`) or a numeric
    * literal for numeric times. Implemented as a POST-CONDITION over
    * the joined output, which is exact for backward as-of: the
    * operator keeps the LATEST match per left row, so if that one is
    * older than the tolerance every other candidate is older still —
    * nulling the right side is precisely the tolerance-constrained
    * semantics, and the merge scan's O(1) state is untouched.
    *
    * `allowExact` (pandas `allow_exact_matches` parity):
    * `false` requires `rightTime < leftTime` STRICTLY — a right row
    * at exactly the left time is skipped (but remains a candidate
    * for later left rows). Composes with `tolerance`: the kept match
    * is still the latest valid one, so the post-condition argument
    * is unchanged. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      tolerance: Option[org.apache.spark.sql.Column] = None,
      allowExact: Boolean = true): DataFrame = {
    require(leftKeys.length == rightKeys.length,
      s"asofJoin key arity mismatch: $leftKeys vs $rightKeys")
    val spark = left.sparkSession
    graft.Session.install(spark)
    val lPlan = GraftColumnBridge.analyzed(left)
    val rPlan = GraftColumnBridge.analyzed(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    val lNames = lPlan.output.map(_.name).toSet
    val dups = rPlan.output.map(_.name).filter(lNames.contains)
    require(dups.isEmpty,
      s"asofJoin output would carry ambiguous columns: ${dups.mkString(", ")} — alias one side")
    val lk = leftKeys.map(attr(lPlan, _))
    val rk = rightKeys.map(attr(rPlan, _))
    val lt = attr(lPlan, leftTimeCol)
    val rt = attr(rPlan, rightTimeCol)
    // the merge scan compares the RIGHT side's rows under orderings
    // built from the LEFT side's types — mismatched types would
    // reinterpret bytes silently, so refuse them here
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"asofJoin key type mismatch: ${a.name}: ${a.dataType.sql} vs ${b.name}: ${b.dataType.sql}")
    }
    require(lt.dataType == rt.dataType,
      s"asofJoin time type mismatch: ${lt.name}: ${lt.dataType.sql} vs ${rt.name}: ${rt.dataType.sql}")
    val joined = GraftColumnBridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan, lk, rk, lt, rt, allowExact))
    tolerance match {
      case None => joined
      case Some(tol) =>
        import org.apache.spark.sql.functions.{col, when, lit}
        // too-old (or absent: rightTime null ⇒ condition null ⇒
        // otherwise-branch) matches null every right column
        val keep = col(rightTimeCol) >= col(leftTimeCol) - tol
        rPlan.output.foldLeft(joined) { (df, a) =>
          df.withColumn(a.name,
            when(keep, col(a.name)).otherwise(lit(null).cast(a.dataType)))
        }
    }
  }

  /** FORWARD as-of join (pandas `direction="forward"`):
    * for each left row, the right row with equal keys and the
    * SMALLEST `rightTimeCol` ≥ `leftTimeCol`. Reduced to the backward
    * merge scan by time negation — `max(−rt) ≤ −lt ⟺ min(rt) ≥ lt` —
    * so the same O(1)-state operator, exchanges, and pushdown rules
    * serve both directions; the negated helper columns never appear
    * in the output. `tolerance` bounds the look-AHEAD
    * (`rightTime ≤ leftTime + tolerance`), exact as a post-condition
    * by the mirror of the backward argument: the kept match is the
    * EARLIEST ≥ lTime, so if it is beyond the window all are.
    * `allowExact = false` requires `rightTime > leftTime` strictly —
    * under the negation reduction that is exactly strict backward on
    * the negated times, so the flag passes straight through. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      tolerance: Option[org.apache.spark.sql.Column] = None,
      allowExact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, unix_micros, when}
    import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}
    def negated(c: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = dt match {
      case TimestampType | TimestampNTZType => -unix_micros(c)
      case _: NumericType => -c
      case other => throw new IllegalArgumentException(
        s"asofJoinForward supports timestamp/numeric times, got ${other.sql}")
    }
    val lNeg = "__asof_l_neg"
    val rNeg = "__asof_r_neg"
    val l2 = left.withColumn(lNeg, negated(col(leftTimeCol),
      left.schema(leftTimeCol).dataType))
    val r2 = right.withColumn(rNeg, negated(col(rightTimeCol),
      right.schema(rightTimeCol).dataType))
    val joined = asofJoin(l2, r2, leftKeys, rightKeys, lNeg, rNeg,
        tolerance = None, allowExact = allowExact)
      .drop(lNeg, rNeg)
    tolerance match {
      case None => joined
      case Some(tol) =>
        val keep = col(rightTimeCol) <= col(leftTimeCol) + tol
        val rightCols = right.columns.toSet
        right.schema.fields.foldLeft(joined) { (df, f) =>
          if (!rightCols.contains(f.name)) df
          else df.withColumn(f.name,
            when(keep, col(f.name)).otherwise(lit(null).cast(f.dataType)))
        }
    }
  }

  /** NEAREST as-of join (pandas `direction="nearest"`):
    * for each left row, whichever of the backward and forward matches
    * lies closer in time; ties go BACKWARD (pandas' rule). Composed
    * from the two merge passes — the backward join preserves exactly
    * one output row per left row carrying every left column, so its
    * output (right columns suffixed away) feeds the forward pass
    * directly and no synthetic row identity is ever needed. Cost: the
    * left side flows through two merge scans (same key exchange both
    * times — AQE reuses it), the right side is scanned twice. */
  def asofJoinNearest(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      allowExact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros, when}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val suffix = "__asof_bwd"
    require(!left.columns.exists(_.endsWith(suffix)),
      s"asofJoinNearest reserves the column suffix $suffix")
    def micros(c: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = dt match {
      case TimestampType | TimestampNTZType => unix_micros(c)
      case _ => c
    }
    val timeDt = right.schema(rightTimeCol).dataType
    val bwd = asofJoin(left, right, leftKeys, rightKeys, leftTimeCol,
      rightTimeCol, allowExact = allowExact)
    val bwdRenamed = right.columns.foldLeft(bwd)((df, c) =>
      df.withColumnRenamed(c, c + suffix))
    val both = asofJoinForward(bwdRenamed, right, leftKeys, rightKeys,
      leftTimeCol, rightTimeCol, allowExact = allowExact)
    val lt = micros(col(leftTimeCol), left.schema(leftTimeCol).dataType)
    val bt = micros(col(rightTimeCol + suffix), timeDt)
    val ft = micros(col(rightTimeCol), timeDt)
    // backward wins when it exists and is at-least-as-close (tie rule)
    val useBwd = bt.isNotNull && (ft.isNull || (lt - bt <= ft - lt))
    both.select(
      left.columns.map(col).toIndexedSeq ++
        right.columns.toIndexedSeq.map { c =>
          when(useBwd, col(c + suffix)).otherwise(col(c)).as(c)
        }: _*)
  }
}
