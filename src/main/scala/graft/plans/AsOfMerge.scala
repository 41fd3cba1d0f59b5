package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col

/** Native Catalyst as-of join — custom-operator tier (c) of the SURVEY §2
  * preference order: a whole-operator `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, for the one operator whose semantics the engine otherwise
  * expresses by composition ([[graft.ops.AsOf]]'s union-and-window form).
  *
  * Why a physical operator at 100 TB: the union-window form pays one union
  * exchange plus a window sort over turns+state TOGETHER; the fused exec
  * co-partitions the two inputs on the key (`ClusteredDistribution` both
  * sides — state shuffles into the turns partitioning), sorts each by
  * `(key, ts)` IN ISOLATION, and then streams ONE forward merge pass per
  * partition with O(1) state (the last state row seen per key) — no
  * buffering of either side, no interleaved union rows through the sort,
  * and the left side's ordering/partitioning survive unchanged
  * (`outputPartitioning`/`outputOrdering` delegate to the left child), so
  * a downstream `groupBy(key)` needs no further exchange.
  *
  * Semantics are exactly [[graft.ops.AsOf.join]] (spec-asserted equal and
  * oracle-checked): latest state at-or-before (`strict=false`) or
  * strictly-before (`strict=true`) the left timestamp; among equal-ts
  * state rows the latest in sort order wins (latest state's NULL wins —
  * the whole matched row is carried, never per-column last-non-null);
  * `toleranceUs` bounds staleness measured from the MATCHED row.
  *
  * DUPLICATE `(key, ts)` state rows are UNSPECIFIED (ADVICE r3): the
  * required child sort is only `(key, ts)`, so which duplicate "the latest
  * in sort order" is depends on partition layout — exactly the
  * union-window form's existing behavior, and DuckDB's ASOF may pick yet
  * another row. A caller whose state table can carry duplicate timestamps
  * must pre-dedupe (e.g. keep max by a stable row id) or add a tiebreak
  * column to `ts`; the engine's state tables have distinct `(key, ts)` by
  * construction.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKey: Attribute, leftTs: Attribute,
                    rightKey: Attribute, rightTs: Attribute,
                    valueAttrs: Seq[Attribute],
                    strict: Boolean, toleranceUs: Option[Long])
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ valueAttrs.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfMergeExec]]. Registered per session via
  * [[Strategies.register]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lts, rk, rts, vals, strict, tol) =>
      AsOfMergeExec(planLater(l), planLater(r), lk, lts, rk, rts, vals, strict, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfMergeExec(left: SparkPlan, right: SparkPlan,
                         leftKey: Attribute, leftTs: Attribute,
                         rightKey: Attribute, rightTs: Attribute,
                         valueAttrs: Seq[Attribute],
                         strict: Boolean, toleranceUs: Option[Long])
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ valueAttrs.map(_.withNullability(true))

  // co-partition by key: EnsureRequirements shuffles the (small) state side
  // into the turns partitioning; a left side already hash-partitioned on
  // the key passes through with NO exchange
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // in-partition sort by (key, ts) on each side INDEPENDENTLY — the merge
  // needs only forward iteration
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  // one output row per left row, in left order: partitioning AND ordering
  // survive — downstream per-key aggregation re-uses this exchange
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "rows with matched state"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    // hoist everything the per-partition closure needs into locals: a
    // field reference inside the lambda would capture `this` and ship the
    // whole plan tree with every task
    val lOut = left.output
    val rOut = right.output
    val lKeyAttr = leftKey; val lTsAttr = leftTs
    val rKeyAttr = rightKey; val rTsAttr = rightTs
    // value columns are nullable in the OUTPUT even if non-nullable on the
    // right (unmatched rows emit nulls) — the projection's input schema
    // must agree, or codegen elides the null check and reads garbage from
    // the all-null row
    val nullableVals = valueAttrs.map(_.withNullability(true))
    val valsLocal = valueAttrs
    val outAttrs = output
    val strictLocal = strict
    val tolLocal = toleranceUs
    // null-safe, NULLS FIRST (matching SortOrder Ascending's default and
    // the union-window form, where Window.partitionBy groups NULL keys
    // into their own partition and null timestamps sort first)
    val typeOrdering = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val keyOrdering: Ordering[Any] = (a: Any, b: Any) =>
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else typeOrdering.compare(a, b)
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyE = BindReferences.bindReference[Expression](lKeyAttr, lOut)
      val lTsE = BindReferences.bindReference[Expression](lTsAttr, lOut)
      val rKeyE = BindReferences.bindReference[Expression](rKeyAttr, rOut)
      val rTsE = BindReferences.bindReference[Expression](rTsAttr, rOut)
      val valueProj = UnsafeProjection.create(valsLocal.asInstanceOf[Seq[Expression]], rOut)
      val outProj = UnsafeProjection.create(outAttrs.asInstanceOf[Seq[Expression]], lOut ++ nullableVals)
      val joiner = new JoinedRow
      val nullVals = new GenericInternalRow(valsLocal.length)

      new Iterator[InternalRow] {
        // the O(1) merge state: the next unconsumed right row (copied —
        // sorter output rows are reused) and the latest state row taken.
        // NULL handling mirrors the union-window form exactly (and the
        // sorted input order: NULLS FIRST): a NULL key is its own group; a
        // NULL timestamp sorts before every real timestamp (sentinel
        // Long.MinValue), is visible to at-or-before (a null-ts state row
        // is "infinitely old"), invisible under strictly-before at the
        // shared sentinel, and never passes a staleness tolerance.
        private var pending: InternalRow = fetch()
        private var hasState: Boolean = false
        private var stateKey: Any = null
        private var stateTs: Long = 0L
        private var stateTsNull: Boolean = false
        private var stateVals: InternalRow = null

        private def fetch(): InternalRow =
          if (rIt.hasNext) rIt.next().copy() else null

        private def tsOf(e: Expression, row: InternalRow): (Long, Boolean) = {
          val v = e.eval(row)
          if (v == null) (Long.MinValue, true) else (v.asInstanceOf[Long], false)
        }

        /** Consume right rows up to the left position (key, ts). */
        private def advance(lk: Any, lt: Long): Unit = {
          var go = true
          while (go && pending != null) {
            val pk = rKeyE.eval(pending)
            val cmp = keyOrdering.compare(pk, lk)
            val (pt, ptNull) = tsOf(rTsE, pending)
            val visible = cmp < 0 || (cmp == 0 && {
              if (strictLocal) pt < lt else pt <= lt
            })
            if (visible) {
              if (cmp == 0) { // belongs to the current key: latest wins
                hasState = true
                stateKey = pk
                stateTs = pt
                stateTsNull = ptNull
                stateVals = valueProj(pending).copy()
              }
              pending = fetch()
            } else go = false
          }
        }

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val lRow = lIt.next()
          val lk = lKeyE.eval(lRow)
          val (lt, ltNull) = tsOf(lTsE, lRow)
          advance(lk, lt)
          var vals: InternalRow = nullVals
          if (hasState && keyOrdering.compare(stateKey, lk) == 0 &&
              tolLocal.forall(t => !ltNull && !stateTsNull && lt - stateTs <= t)) {
            vals = stateVals
            numMatched += 1
          }
          numOutputRows += 1
          outProj(joiner(lRow, vals))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry: build the logical node from analyzed children and
  * register the planner strategies on the session.
  */
object AsOfMerge {

  /** Same contract as [[graft.ops.AsOf.join]], planned through
    * [[AsOfMergeExec]]. `left` keeps all its columns; `right` contributes
    * `valueCols` (null when no state is visible).
    */
  def join(left: DataFrame, right: DataFrame,
           key: String, ts: String, valueCols: Seq[String],
           strict: Boolean = false, toleranceUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    require(valueCols.forall(!left.columns.contains(_)),
      s"left already contains one of $valueCols")
    Strategies.register(left.sparkSession)
    val lPlan = Bridge.analyzed(left)
    // every right column is aliased, so the right child owns fresh
    // attribute ids: a state frame derived from the turns frame would
    // otherwise share the left's ids, and when the analyzer renews the
    // right relation the node's right key and ts would be left pointing
    // at the left side
    val rPlan = Bridge.analyzed(right.select((Seq(key, ts) ++ valueCols).map(c => col(c).as(c)): _*))
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))
    val node = AsOfJoin(lPlan, rPlan,
      attr(lPlan, key), attr(lPlan, ts),
      attr(rPlan, key), attr(rPlan, ts),
      valueCols.map(attr(rPlan, _)),
      strict, toleranceUs)
    Bridge.ofRows(left.sparkSession, node)
  }

  /** Multi-table point-in-time join (the feature-store shape): align the
    * fact side against N state tables in one pass over its layout. Because
    * [[AsOfMergeExec]] PRESERVES the left partitioning and ordering, the
    * chained execs compose with ZERO re-shuffles and zero re-sorts of the
    * fact side — the plan is one fact layout + one small exchange/sort per
    * state table, however many tables are joined. (The union-window form
    * cannot do this: each additional table would drag the fact rows
    * through another union sort.) Each entry is (state table, its value
    * columns); `strict`/`toleranceUs` apply to every table.
    */
  def joinMany(left: DataFrame, rights: Seq[(DataFrame, Seq[String])],
               key: String, ts: String,
               strict: Boolean = false, toleranceUs: Option[Long] = None): DataFrame =
    rights.foldLeft(left) { case (acc, (right, cols)) =>
      join(acc, right, key, ts, cols, strict, toleranceUs)
    }
}
