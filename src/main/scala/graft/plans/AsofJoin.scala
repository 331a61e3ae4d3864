package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF join — the whole-operator extension tier (SURVEY §2.5(c)):
  * a custom `LogicalPlan` + optimizer `Rule` + `SparkStrategy` +
  * `SparkPlan`, injected through `SparkSessionExtensions`.
  *
  * Semantics: for each left row, append the LATEST right row of the same
  * key with `right.time <= left.time` (nulls when none) — LEFT OUTER as-of,
  * the canonical "price at event time" lookup. Built-in Spark offers only
  * the union+window emulation (see `RelationalOps.asofPrice`) or an
  * interval range-join; the reference domain (trades) runs this constantly,
  * which justifies a first-class operator.
  *
  * Physical shape (the reason to go custom): both sides hash-cluster on
  * the key and sort per partition on (key, time) — the SAME distribution
  * contract as a sort-merge join, enforced by Catalyst through
  * `requiredChildDistribution`/`requiredChildOrdering`, so AQE/exchange
  * reuse/partition coalescing all apply — and then ONE forward-only merge
  * pass per partition holds exactly one buffered right row. No union
  * blow-up, no per-row window state, no interval cross-product: at 100 TB
  * the cost is the two key-shuffles and a streaming zip.
  *
  * Null semantics follow SQL joins: null keys never match (left rows with
  * null key/time emit null-padded, right rows with null key/time are
  * discarded); ties on `right.time` resolve to the row latest in the
  * (time, sort-tiebreak) child ordering, so callers pin determinism by
  * pre-aggregating or including a unique tiebreak in the right sort —
  * [[AsofJoinOps.asofJoin]] documents this contract.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Physical as-of merge join. See [[AsofJoin]] for the operator contract. */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  // the merge is left-driven and order-preserving: downstream operators
  // keep the left clustering + ordering for free (e.g. a subsequent
  // window over the same key plans no exchange)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val rightArity = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightArity)
      val outProj = UnsafeProjection.create(output, output)

      // one-row lookahead over the right side; buffers are REUSED by the
      // unsafe projections, so anything retained across next() is copied
      var rRow: InternalRow = null
      var rKey: UnsafeRow = null
      var rTime: UnsafeRow = null
      def advanceRight(): Unit =
        if (rIter.hasNext) {
          rRow = rIter.next()
          rKey = rKeyProj(rRow)
          rTime = rTimeProj(rRow)
        } else { rRow = null; rKey = null; rTime = null }
      advanceRight()

      // latest right row with time <= current left time, for the key it
      // was matched under (copies — they outlive the lookahead buffer)
      var matchKey: UnsafeRow = null
      var matchRow: InternalRow = null

      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTime = lTimeProj(l)
        if (!lKey.anyNull && !lTime.isNullAt(0)) {
          var scanning = rRow != null
          while (scanning) {
            if (rKey.anyNull || rTime.isNullAt(0)) advanceRight() // never matchable
            else {
              val kc = keyOrd.compare(rKey, lKey)
              if (kc < 0) advanceRight() // right key exhausted below left cursor
              else if (kc == 0 && timeOrd.compare(rTime, lTime) <= 0) {
                matchKey = rKey.copy(); matchRow = rRow.copy()
                advanceRight()
              } else scanning = false // right is ahead; stop for this left row
            }
            scanning = scanning && rRow != null
          }
        }
        val matched = !lKey.anyNull && matchRow != null &&
          keyOrd.compare(matchKey, lKey) == 0
        outProj(joined(l, if (matched) matchRow else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoin]] as [[AsofJoinExec]]. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt) =>
      AsofJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Predicate pushdown THROUGH the custom node: Catalyst's own
  * `PushDownPredicates` only descends through operators it knows, so a
  * filter above an [[AsofJoin]] would otherwise stall there and the left
  * scan would read the full table. Left-side conjuncts are sound to push
  * (each output row is one left row, kept or null-padded — dropping a left
  * row never changes another row's match); right-side conjuncts are NOT
  * (filtering candidate rows changes which row is "latest") and stay put.
  */
object PushFilterThroughAsofJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, aj: AsofJoin) =>
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(pushable.reduce(And), aj.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Column pruning THROUGH the custom node — the other half of what
  * Catalyst's `ColumnPruning` cannot do for operators it doesn't know: a
  * projection above an [[AsofJoin]] keeps only some output columns, so
  * child columns used neither upward nor by the join's keys/times are cut
  * with inserted child Projects, and the pruned projection reaches the
  * parquet scans (ReadSchema). Without this, `asofJoin(wide, wide)
  * .select(few)` reads both FULL tables at 100 TB. Fixpoint-safe: once
  * children project exactly the kept columns the rule no longer fires.
  */
object PruneColumnsThroughAsofJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case p @ Project(_, aj @ AsofJoin(l, r, lk, rk, lt, rt)) =>
      val required = AttributeSet(
        p.projectList.flatMap(_.references) ++
          lk.flatMap(_.references) ++ rk.flatMap(_.references) ++
          lt.references ++ rt.references)
      def prune(child: LogicalPlan): LogicalPlan = {
        val keep = child.output.filter(required.contains)
        if (keep.size == child.output.size) child else Project(keep, child)
      }
      val (nl, nr) = (prune(l), prune(r))
      if ((nl eq l) && (nr eq r)) p
      else p.copy(child = aj.copy(left = nl, right = nr))
  }
}

/** User-facing API. The planner strategy and both rules come from
  * `graft.functions.GraftExtensions`, which every `GraftSession` injects.
  */
object AsofJoinOps {

  /** `left ASOF LEFT JOIN right ON on... AND right.time <= left.time`.
    *
    * Right columns are re-aliased with `rightSuffix` (fresh expression ids,
    * so self-as-of over one source table is safe). Determinism contract:
    * if the right side can hold several rows per (key, time), pre-aggregate
    * or accept the child-sort tiebreak.
    */
  def asofJoin(left: DataFrame, right: DataFrame, on: Seq[String],
               leftTimeCol: String, rightTimeCol: String,
               rightSuffix: String = "_r"): DataFrame = {
    val spark = left.sparkSession
    val renamed = right.select(right.columns.map(c => right(c).as(c + rightSuffix)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = renamed.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    val (lk, rk) = (on.map(attr(lPlan, _)), on.map(n => attr(rPlan, n + rightSuffix)))
    val (lt, rt) = (attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol + rightSuffix))
    // The exec compares raw row slots with orderings built from LEFT-side
    // types — a type mismatch (timestamp vs date, int vs long) would read
    // the wrong slot width and corrupt matches SILENTLY, so reject here.
    lk.zip(rk).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"as-of key type mismatch: ${l.name}: ${l.dataType.sql} vs ${r.name}: ${r.dataType.sql} — cast explicitly")
    }
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: ${lt.name}: ${lt.dataType.sql} vs ${rt.name}: ${rt.dataType.sql} — cast explicitly")
    GraftBridge.ofRows(spark, AsofJoin(lPlan, rPlan, lk, rk, lt, rt))
  }
}
