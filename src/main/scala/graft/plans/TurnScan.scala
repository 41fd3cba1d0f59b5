package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType}

/** The ordered per-conversation turn walk — musiF walks each part's notes
  * in order for its intervals, runs and change-point segments — as ONE
  * operator: a `LogicalPlan` node, a `SparkStrategy` and [[TurnScanExec]],
  * built like [[AsOfMerge]]. It is the engine's one spelling of a
  * `(conv_id ORDER BY turn_idx)` lag, session or run scan.
  *
  * The exec requires its input clustered by `key` and sorted by
  * `(key, order)`, then streams each partition once, forward, with one row
  * of lookahead and O(1) state, adding any of three column groups:
  *  - lag: `prev_role`, `next_role`, `delta_ts_us` (exact integer
  *    microseconds) and `prev_text_len`;
  *  - sessions: `sess_start`, `sess_end`, on end rows `sess_len`, and
  *    `session_id`, the 0-based count of `sess_start` rows so far — a
  *    session breaks where the gap between consecutive turns exceeds
  *    `gapUs` (a NULL gap is no break);
  *  - runs: `run_start`, `run_end`, on end rows `run_len`, and `run_id`,
  *    the 0-based count of `run_start` rows so far, for runs of equal
  *    `role` — three-valued like `prev_role IS NULL OR prev_role <> role`:
  *    a NULL role after a non-NULL neighbour is NULL, not true, and a NULL
  *    start counts 0 (the row joins the run before it).
  * A NULL key is its own group. Rows keep their order, so the output
  * partitioning and ordering are the child's and a downstream
  * `groupBy(key)` needs no exchange.
  *
  * Duplicate `(key, order)` rows: the required sort leaves tied rows in no
  * defined order, so every lag value, flag, length and id computed on a
  * tie can depend on the order in which the tied rows arrive (as in the
  * Window form, whose sort leaves ties open the same way). Callers whose
  * `order` can tie must break the tie in `order` itself.
  *
  * `tsUs` is a helper column projected just below the node
  * (`unix_micros(ts)`, so time-zone handling stays in Catalyst), as is
  * `len` when the frame has no `text_len` (`length(text)`); helpers are
  * consumed here and not passed through. A produced column replaces an
  * input column of the same name, as `withColumn` does. The node is a
  * `MultiInstanceRelation` so that a frame can meet itself in a join or a
  * set operation: the analyzer renews the produced attributes of one side.
  */
case class TurnScan(child: LogicalPlan, key: Attribute, order: Attribute,
                    role: Option[Attribute], tsUs: Option[Attribute], len: Option[Attribute],
                    lag: Boolean, gapUs: Option[Long], runs: Boolean,
                    produced: Seq[Attribute])
    extends UnaryNode with MultiInstanceRelation {
  override def output: Seq[Attribute] = TurnScan.passThrough(child.output, produced) ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def newInstance(): TurnScan = copy(produced = produced.map(_.newInstance()))
  override protected def withNewChildInternal(newChild: LogicalPlan): TurnScan =
    copy(child = newChild)
}

/** Plans [[TurnScan]] as [[TurnScanExec]]; registered beside
  * [[AsOfJoinStrategy]] by [[Strategies.register]].
  */
object TurnScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TurnScan =>
      TurnScanExec(planLater(t.child), t.key, t.order, t.role, t.tsUs, t.len,
        t.lag, t.gapUs, t.runs, t.produced) :: Nil
    case _ => Nil
  }
}

case class TurnScanExec(child: SparkPlan, key: Attribute, order: Attribute,
                        role: Option[Attribute], tsUs: Option[Attribute], len: Option[Attribute],
                        lag: Boolean, gapUs: Option[Long], runs: Boolean,
                        produced: Seq[Attribute])
    extends UnaryExecNode {

  override def output: Seq[Attribute] = TurnScan.passThrough(child.output, produced) ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending), SortOrder(order, Ascending)))

  // one output row per input row, in input order
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // locals only: a field reference inside the closure would capture
    // `this` and ship the plan tree with every task
    val in = child.output
    def ordinal(a: Attribute): Int = in.indexWhere(_.exprId == a.exprId)
    val keyOrd = ordinal(key)
    val keyType = key.dataType
    val roleOrd = role.map(ordinal).getOrElse(-1)
    val roleType: DataType = role.map(_.dataType).orNull
    val tsOrd = tsUs.map(ordinal).getOrElse(-1)
    val lenOrd = len.map(ordinal).getOrElse(-1)
    val lenType: DataType = len.map(_.dataType).orNull
    val (doLag, doRuns) = (lag, runs)
    val doSess = gapUs.isDefined
    val gap = gapUs.getOrElse(0L)
    val outAttrs = output
    val feats = produced
    // null-safe equality (a NULL key is its own group), on any key type:
    // the windowed path keys by struct(conv_id, window_id)
    def equality(t: DataType): (Any, Any) => Boolean = {
      val ord = TypeUtils.getInterpretedOrdering(t)
      (a, b) => if (a == null || b == null) a == null && b == null else ord.equiv(a, b)
    }
    val sameKey = equality(keyType)
    val sameRole = role.map(r => equality(r.dataType)).orNull

    child.execute().mapPartitions { it =>
      val outProj = UnsafeProjection.create(outAttrs, in ++ feats)
      val f = new SpecificInternalRow(feats.map(_.dataType))
      val joined = new JoinedRow
      // feature slots, in `produced` order
      var slot = 0
      def alloc(n: Int): Int = { val s = slot; slot += n; s }
      val lagAt = if (doLag) alloc(4) else -1
      val sessAt = if (doSess) alloc(4) else -1
      val runAt = if (doRuns) alloc(4) else -1

      new Iterator[InternalRow] {
        // the row being emitted and its lookahead, each copied once when
        // fetched (sorter output rows are reused); values read from a copy
        // stay valid after the scan moves past it
        private var cur, nxt: InternalRow = _
        private var nxtKey, nxtRole: Any = _
        private var nxtTs = 0L
        private var nxtTsNull = true
        private var nxtSameKey = false // nxt is in cur's conversation
        private var rn, sessStartRn, runStartRn, sessId, runId = 0
        private var prevRole, prevLen: Any = _
        private var prevTs = 0L
        private var prevTsNull = true
        private var roleEqPrev = false // prev and cur roles equal (both non-NULL)
        fetch()

        private def fetch(): Unit =
          if (!it.hasNext) nxt = null
          else {
            nxt = it.next().copy()
            nxtKey = nxt.get(keyOrd, keyType)
            nxtRole = if (roleOrd < 0 || nxt.isNullAt(roleOrd)) null else nxt.get(roleOrd, roleType)
            nxtTsNull = tsOrd < 0 || nxt.isNullAt(tsOrd)
            nxtTs = if (nxtTsNull) 0L else nxt.getLong(tsOrd)
          }

        override def hasNext: Boolean = nxt != null

        override def next(): InternalRow = {
          val first = !nxtSameKey
          cur = nxt
          val curKey = nxtKey
          val curRole = nxtRole
          val curTs = nxtTs
          val curTsNull = nxtTsNull
          fetch()
          val last = nxt == null || !sameKey(curKey, nxtKey)
          nxtSameKey = !last
          rn = if (first) 1 else rn + 1

          val roleEqNext = !last && curRole != null && nxtRole != null && sameRole(curRole, nxtRole)
          val hasDelta = !first && !prevTsNull && !curTsNull

          if (doLag) {
            if (first || prevRole == null) f.setNullAt(lagAt) else f.update(lagAt, prevRole)
            if (last || nxtRole == null) f.setNullAt(lagAt + 1) else f.update(lagAt + 1, nxtRole)
            if (hasDelta) f.setLong(lagAt + 2, curTs - prevTs) else f.setNullAt(lagAt + 2)
            if (first || prevLen == null) f.setNullAt(lagAt + 3) else f.update(lagAt + 3, prevLen)
          }
          if (doSess) {
            val start = first || (hasDelta && curTs - prevTs > gap)
            val end = last || (!curTsNull && !nxtTsNull && nxtTs - curTs > gap)
            if (start) { sessStartRn = rn; sessId = if (first) 0 else sessId + 1 }
            f.setBoolean(sessAt, start)
            f.setBoolean(sessAt + 1, end)
            if (end) f.setLong(sessAt + 2, rn - sessStartRn + 1L) else f.setNullAt(sessAt + 2)
            f.setInt(sessAt + 3, sessId)
          }
          if (doRuns) {
            // prev_role IS NULL OR prev_role <> role, and the same with next
            val startNull = !first && prevRole != null && curRole == null
            val start = first || prevRole == null || (curRole != null && !roleEqPrev)
            val endNull = !last && nxtRole != null && curRole == null
            val end = last || nxtRole == null || (curRole != null && !roleEqNext)
            if (start) { runStartRn = rn; runId = if (first) 0 else runId + 1 }
            if (startNull) f.setNullAt(runAt) else f.setBoolean(runAt, start)
            if (endNull) f.setNullAt(runAt + 1) else f.setBoolean(runAt + 1, end)
            if (end) f.setLong(runAt + 2, rn - runStartRn + 1L) else f.setNullAt(runAt + 2)
            f.setInt(runAt + 3, runId)
          }

          prevRole = curRole
          prevTs = curTs
          prevTsNull = curTsNull
          prevLen = if (lenOrd < 0 || cur.isNullAt(lenOrd)) null else cur.get(lenOrd, lenType)
          roleEqPrev = roleEqNext
          numOutputRows += 1
          outProj(joined(cur, f))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TurnScanExec =
    copy(child = newChild)
}

/** DataFrame entry: each call adds its column group to ONE [[TurnScan]]
  * keyed by `conv_id` and ordered by `turn_idx`. A frame whose plan is
  * already a `TurnScan` gets a node computing the union of both groups in
  * place of the old one, so the feature modules' enrich chain costs one
  * pass, not one per module.
  */
object TurnScan {
  val LagColumns: Seq[String] = Seq("prev_role", "next_role", "delta_ts_us", "prev_text_len")
  val SessionColumns: Seq[String] = Seq("sess_start", "sess_end", "sess_len", "session_id")
  val RunColumns: Seq[String] = Seq("run_start", "run_end", "run_len", "run_id")

  private val Helper = "__turn_scan_"
  private val TsHelper = Helper + "ts_us"
  private val LenHelper = Helper + "len"

  /** Child columns the node passes through: not a helper, not replaced. */
  private[plans] def passThrough(in: Seq[Attribute], produced: Seq[Attribute]): Seq[Attribute] =
    in.filterNot(a => a.name.startsWith(Helper) || produced.exists(_.name.equalsIgnoreCase(a.name)))

  /** Lag columns: role and text length of the neighbouring turns and the
    * gap to the previous one. The length is `text_len` when the frame has
    * it, else `length(text)`.
    */
  def lag(turns: DataFrame): DataFrame = add(turns, lag = true, gapUs = None, runs = false)

  /** Session columns for a `gapSeconds` session break; `session_id` is the
    * gap-sessionization id (SURVEY.md W9, the batch form of
    * `session_window`).
    */
  def sessions(turns: DataFrame, gapSeconds: Long): DataFrame =
    add(turns, lag = false, gapUs = Some(gapSeconds * 1000000L), runs = false)

  /** Role-run columns; `groupBy(conv_id, run_id)` fuses each run of equal
    * roles into one row (SURVEY.md W2/W7).
    */
  def runs(turns: DataFrame): DataFrame = add(turns, lag = false, gapUs = None, runs = true)

  private def add(turns: DataFrame, lag: Boolean, gapUs: Option[Long], runs: Boolean): DataFrame = {
    val spark = turns.sparkSession
    Strategies.register(spark)
    Bridge.analyzed(turns) match {
      case t @ TurnScan(Project(_, base), _, _, _, _, _, _, _, _, _) =>
        build(Bridge.ofRows(spark, base), lag || t.lag, gapUs.orElse(t.gapUs), runs || t.runs)
      case _ => build(turns, lag, gapUs, runs)
    }
  }

  private def build(base: DataFrame, lag: Boolean, gapUs: Option[Long], runs: Boolean): DataFrame = {
    val needTs = lag || gapUs.isDefined
    val hasLen = base.columns.contains("text_len")
    val helpers =
      (if (needTs) Seq(graft.ops.LagLead.micros(col("ts")).as(TsHelper)) else Nil) ++
        (if (lag && !hasLen) Seq(length(col("text")).as(LenHelper)) else Nil)
    val child = Bridge.analyzed(base.select(col("*") +: helpers: _*))
    def attr(name: String): Attribute = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found in ${base.columns.toSeq}"))
    val role = if (lag || runs) Some(attr("role")) else None
    val ts = if (needTs) Some(attr(TsHelper)) else None
    val len = if (lag) Some(attr(if (hasLen) "text_len" else LenHelper)) else None
    def group(on: Boolean, names: Seq[String], types: => Seq[DataType]): Seq[Attribute] =
      if (!on) Nil else names.zip(types).map { case (n, t) => AttributeReference(n, t)() }
    val produced =
      group(lag, LagColumns, Seq(role.get.dataType, role.get.dataType, LongType, len.get.dataType)) ++
        group(gapUs.isDefined, SessionColumns, Seq(BooleanType, BooleanType, LongType, IntegerType)) ++
        group(runs, RunColumns, Seq(BooleanType, BooleanType, LongType, IntegerType))
    Bridge.ofRows(base.sparkSession, TurnScan(child, attr("conv_id"), attr("turn_idx"),
      role, ts, len, lag, gapUs, runs, produced))
  }
}

/** Registers the engine's planner strategies on a session (idempotent):
  * `spark.experimental.extraStrategies` is the public extension point;
  * `SparkSessionExtensions.injectPlannerStrategy` is the equivalent hook
  * when building the session yourself.
  */
object Strategies {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val exp = Bridge.experimental(spark)
    val missing = Seq(AsOfJoinStrategy, TurnScanStrategy).filterNot(exp.extraStrategies.contains)
    if (missing.nonEmpty) exp.extraStrategies = exp.extraStrategies ++ missing
  }
}
