package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, CoalescedHashPartitioning, Distribution, HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.LongType

/** Native as-of join — the SURVEY §2.C operator Spark's built-in join
  * set genuinely lacks, implemented as a WHOLE-OPERATOR Catalyst
  * extension (the brief's option (c) ladder rung): a custom
  * `LogicalPlan` node, a `Strategy` that plans it, and a physical
  * `BinaryExecNode` whose distribution/ordering REQUIREMENTS let
  * Spark's own EnsureRequirements insert the co-partitioning exchanges
  * and per-partition sorts — the operator never hand-schedules its
  * shuffles, exactly like the built-in SortMergeJoinExec it is shaped
  * after (public Spark source, no code copied).
  *
  * Semantics (the pandas `merge_asof` contract, r9): each left row is
  * paired with the ENTIRE matched right row — all right payload
  * columns, null-extended when no match exists — not just the matched
  * time. Backward (default): the right row with the LARGEST time
  * strictly before the left time within the same key. Forward: the
  * SMALLEST right time at-or-after the left time. Nearest (r14,
  * completing the merge_asof direction triangle): the candidate with
  * the smaller |time delta| among the inclusive-backward candidate
  * (largest right time <= left time) and the strict-forward candidate,
  * ties to backward — the window spelling's rule (`join_asof_nearest`),
  * matched exactly. Ties on the right's (key, time) are broken by the
  * caller-supplied `rightTiebreak` columns (largest wins backward,
  * smallest wins forward — the sort order's last/first row), making
  * the payload deterministic under any partitioning; without a
  * tiebreak, equal-time right rows would surface
  * partition-order-dependent payloads.
  *
  * Keys and times are ANY orderable Spark type (r9 — was LongType
  * only): the two key types must match, the two time types must
  * match, and comparisons run through the type's interpreted ordering.
  * The all-LongType shape (the fixture's user_id / epoch-micros) takes
  * a specialized primitive walk — direct `getLong` reads, no boxing.
  *
  * Execution is a streaming MERGE WALK over the two (key, time)-sorted
  * partition iterators: O(|L| + |R|) per partition, O(1) state (a copy
  * of the last consumed right row) — no window buffering, no per-key
  * group materialization, no hash table. At 100 TB both sides shuffle
  * once on the key (or zero times if co-bucketed — the requirement is
  * declared, so Catalyst elides satisfied exchanges), and partitions
  * stream through the walk regardless of key size: a single hot key
  * costs time, never memory.
  *
  * `join_asof_native` pairs this implementation against the SAME
  * oracle shape as the window-spelled `join_asof` — two
  * algorithmically different implementations, one hash — and
  * AsofJoinNativeSpec asserts row-identical output under adversarial
  * repartitioning.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression] = Nil,
    forward: Boolean = false,
    nearest: Boolean = false) extends BinaryNode {
  // left-outer shape: every right column is nullable in the output
  // (null-extended when no as-of match exists); exprIds are preserved
  // so downstream resolution works exactly as for a built-in Join
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override lazy val resolved: Boolean =
    childrenResolved && leftKey.resolved && rightKey.resolved &&
      leftTime.resolved && rightTime.resolved &&
      rightTiebreak.forall(_.resolved)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans `AsofJoin` to its physical exec; injectable via
  * `SparkSessionExtensions.injectPlannerStrategy` or
  * `spark.experimental.extraStrategies`.
  */
object AsofJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tb, fwd, near) =>
      AsofJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r),
        fwd, near) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan,
    forward: Boolean = false,
    nearest: Boolean = false) extends BinaryExecNode {

  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  require(!(forward && nearest),
    "as-of direction must be one of backward (default), forward, nearest")
  // nearest needs |time delta| ARITHMETIC, not just an ordering — the
  // contract is integer time (the fixture's epoch-micros); other
  // orderable time types have no engine-defined subtraction here
  require(!nearest || leftTime.dataType == LongType,
    s"nearest as-of requires BIGINT times, got ${leftTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // both sides clustered on the key: EnsureRequirements co-partitions
  // them (inserting hash exchanges only where the existing
  // partitioning does not already satisfy the requirement)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  // (key, time) ascending within partitions on both sides — the merge
  // walk's precondition, supplied by Spark's external (spilling) sort.
  // The right side additionally sorts by the tiebreak columns so the
  // payload carried for equal (key, time) rows is deterministic.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTiebreak.map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  // rows keep the left side's partition assignment (the walk only
  // null-extends right columns), so advertise it: a downstream
  // groupBy/join on the same key then reuses the exchange instead of
  // re-shuffling
  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Fail fast on partition misalignment instead of silently walking
    * differently-bounded partitions (ADVICE r8): the zipPartitions walk
    * is correct ONLY when equal key values land in the same-index
    * partition on both sides. EnsureRequirements guarantees that for
    * the partitionings accepted below; anything else — most likely
    * AQE's independent stage coalescing re-planning a child — is an
    * error here, not wrong rows downstream.
    */
  private def assertAligned(): Unit = {
    val lp = left.outputPartitioning
    val rp = right.outputPartitioning
    val ok = (lp, rp) match {
      // one partition on both sides is trivially aligned whatever the
      // partitioning class says
      case _ if lp.numPartitions == 1 && rp.numPartitions == 1 => true
      case (SinglePartition, SinglePartition) => true
      case (l: HashPartitioning, r: HashPartitioning) =>
        l.numPartitions == r.numPartitions &&
          l.expressions.length == 1 && r.expressions.length == 1 &&
          l.expressions.head.semanticEquals(leftKey) &&
          r.expressions.head.semanticEquals(rightKey)
      // AQE coalesced both sides' shuffle reads with IDENTICAL
      // boundaries over same-numPartitions hash partitionings on the
      // keys: partition i still holds the same key-hash range on both
      // sides, so the walk stays aligned
      case (l: CoalescedHashPartitioning, r: CoalescedHashPartitioning) =>
        l.partitions == r.partitions &&
          l.from.numPartitions == r.from.numPartitions &&
          l.from.expressions.length == 1 &&
          r.from.expressions.length == 1 &&
          l.from.expressions.head.semanticEquals(leftKey) &&
          r.from.expressions.head.semanticEquals(rightKey)
      case _ => false
    }
    if (!ok) throw new IllegalStateException(
      "AsofJoinExec children are not verifiably co-partitioned on the " +
        s"as-of key (left: $lp, right: $rp). This typically means AQE " +
        "re-planned a child independently — run the join on a session " +
        "with spark.sql.adaptive.enabled=false (AsofJoinApi.asofJoin " +
        "documents the constraint) or pre-partition both inputs on the " +
        "key explicitly.")
  }

  /** Ordinal of `e` in `out` when it is a direct attribute, else -1
    * (falls back to interpreted eval — the hot fixture path is always
    * an attribute, read via `getLong` on the UnsafeRow: ~3× faster
    * than per-row `Expression.eval`, measured at sf1).
    */
  private def ordinalOf(e: Expression, out: Seq[Attribute]): Int = e match {
    case a: Attribute => out.indexWhere(_.exprId == a.exprId)
    case _ => -1
  }

  private def allLong: Boolean =
    leftKey.dataType == LongType && rightKey.dataType == LongType &&
      leftTime.dataType == LongType && rightTime.dataType == LongType

  override protected def doExecute(): RDD[InternalRow] = {
    assertAligned()
    val rightWidth = right.output.size
    // bind against the NULLABLE right attrs: the null-extension row
    // feeds the projection, and a writer generated from non-null
    // input attrs would skip the null check (the classic outer-join
    // codegen pitfall)
    val inAttrs = left.output ++ right.output.map(_.withNullability(true))
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val lKeyOrd = ordinalOf(leftKey, left.output)
    val lTimeOrd = ordinalOf(leftTime, left.output)
    val rKeyOrd = ordinalOf(rightKey, right.output)
    val rTimeOrd = ordinalOf(rightTime, right.output)
    val useLong = allLong
    // interpreted orderings for the generic (non-Long) walk; resolved
    // on the driver, serialized into the closure
    val kOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val isFwd = forward
    val isNear = nearest
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(
        inAttrs.map(a => a: Expression), inAttrs)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      @inline def lk(row: InternalRow): Any =
        if (lKeyOrd >= 0) (if (row.isNullAt(lKeyOrd)) null
          else if (useLong) row.getLong(lKeyOrd)
          else row.get(lKeyOrd, leftKey.dataType))
        else lKey.eval(row)
      @inline def lt(row: InternalRow): Any =
        if (lTimeOrd >= 0) (if (row.isNullAt(lTimeOrd)) null
          else if (useLong) row.getLong(lTimeOrd)
          else row.get(lTimeOrd, leftTime.dataType))
        else lTime.eval(row)
      @inline def rk(row: InternalRow): Any =
        if (rKeyOrd >= 0) (if (row.isNullAt(rKeyOrd)) null
          else if (useLong) row.getLong(rKeyOrd)
          else row.get(rKeyOrd, rightKey.dataType))
        else rKey.eval(row)
      @inline def rt(row: InternalRow): Any =
        if (rTimeOrd >= 0) (if (row.isNullAt(rTimeOrd)) null
          else if (useLong) row.getLong(rTimeOrd)
          else row.get(rTimeOrd, rightTime.dataType))
        else rTime.eval(row)
      @inline def cmpK(a: Any, b: Any): Int =
        if (useLong) java.lang.Long.compare(
          a.asInstanceOf[Long], b.asInstanceOf[Long])
        else kOrd.compare(a, b)
      @inline def cmpT(a: Any, b: Any): Int =
        if (useLong) java.lang.Long.compare(
          a.asInstanceOf[Long], b.asInstanceOf[Long])
        else tOrd.compare(a, b)
      // O(1) walk state: a COPY of the last consumed right row (the
      // sorter reuses row objects, so a reference would rot) plus its
      // key value — key equality with the current left row doubles as
      // the has-match flag. The copy target is ONE reusable UnsafeRow
      // buffer (copyFrom reuses its bytes, growing only when a wider
      // row arrives), so consuming the whole right side costs O(1)
      // allocations per partition, not one fresh UnsafeRow per
      // consumed right row (ADVICE r9).
      var matchRow: InternalRow = null
      var matchKey: Any = null
      // nearest mode only: the consumed (backward-candidate) row's time
      // — a primitive long (the mode requires LongType), so the value
      // extracted from the sorter's reused row cannot rot
      var matchTime: Long = 0L
      var matchBuf: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
      @inline def stash(consumed: InternalRow): InternalRow =
        consumed match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
            if (matchBuf == null) matchBuf = u.copy()
            else matchBuf.copyFrom(u)
            matchBuf
          case r => r.copy()
        }
      lIter.map { lRow =>
        val lkV = lk(lRow)
        val ltV = lt(lRow)
        var outRight: InternalRow = nullRight
        if (lkV != null && ltV != null) {
          // consume right rows strictly (key, time)-before (lk, lt);
          // null keys/times sort first and match nothing
          var advance = true
          while (advance && rBuf.hasNext) {
            val rRow = rBuf.head
            val rkV = rk(rRow)
            val rtV = rt(rRow)
            if (rkV == null || rtV == null) { rBuf.next() }
            else {
              val c = cmpK(rkV, lkV)
              // nearest consumes INCLUSIVE of equal times (its backward
              // candidate is rt <= lt, the window spelling's prior_us)
              // so the buffered head is then strictly after lt
              val tc = if (c == 0) cmpT(rtV, ltV) else 0
              if (c < 0 || (c == 0 && (tc < 0 || (isNear && tc == 0)))) {
                matchRow = stash(rBuf.next())
                // re-read the key from the STASHED copy: for buffer-
                // backed key types (UTF8String) the value extracted
                // from the sorter's reused row rots at the next head()
                matchKey = if (useLong) rkV else rk(matchRow)
                if (isNear) matchTime = rtV.asInstanceOf[Long]
              } else advance = false
            }
          }
          if (isNear) {
            // nearest = smaller |delta| of the inclusive-backward
            // candidate (last consumed row, when it belongs to this
            // key) vs the strict-forward candidate (the buffered head,
            // when it belongs to this key), ties to backward — exactly
            // join_asof_nearest's CASE rule. Deltas are non-negative
            // long subtractions; epoch-micros magnitudes cannot wrap.
            val hasPrior = matchRow != null && cmpK(matchKey, lkV) == 0
            var nextRow: InternalRow = null
            if (rBuf.hasNext) {
              val rRow = rBuf.head
              val rkV = rk(rRow)
              if (rkV != null && cmpK(rkV, lkV) == 0) nextRow = rRow
            }
            if (hasPrior && nextRow != null) {
              val ltL = ltV.asInstanceOf[Long]
              val dPrior = ltL - matchTime
              val dNext = rt(nextRow).asInstanceOf[Long] - ltL
              outRight = if (dPrior <= dNext) matchRow else nextRow
            } else if (hasPrior) outRight = matchRow
            else if (nextRow != null) outRight = nextRow
          } else if (isFwd) {
            // forward as-of (earliest right with rt >= lt, same key):
            // everything strictly before (lk, lt) is consumed above —
            // it can never answer this or any LATER left row — so the
            // buffered HEAD is the minimal remaining candidate; it
            // answers iff it belongs to this key (lexicographic order
            // guarantees head.rt >= lt when head.rk == lk)
            if (rBuf.hasNext) {
              val rRow = rBuf.head
              val rkV = rk(rRow)
              if (rkV != null && cmpK(rkV, lkV) == 0) outRight = rRow
            }
          } else if (matchRow != null && cmpK(matchKey, lkV) == 0)
            outRight = matchRow
        }
        proj(joined(lRow, outRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-facing constructor: resolves the named columns against
  * the two inputs' analyzed plans and surfaces the custom node as an
  * ordinary DataFrame. The session must have `AsofJoinStrategy`
  * installed: `GraftExtensions` injects it, and `asofJoin` puts it on
  * its execution session through `Sessions.install`. Like pandas
  * `merge_asof`, the result carries every left column plus every
  * right column (null-extended on no match) — rename overlapping
  * right columns before the call.
  *
  * Execution-session note: on an AQE-enabled caller session the
  * returned DataFrame is bound to a cached AQE-off CHILD session
  * (the exec's partition-alignment guard requires it), with the
  * caller's runtime confs snapshotted at child creation. Operations
  * composed on the result therefore also run AQE-off; if downstream
  * work should run under the caller's own session (AQE skew handling
  * etc.), materialize the as-of result first (write it, or
  * `.localCheckpoint()`) and continue from the materialized frame.
  */
object AsofJoinApi {

  /** One cached AQE-off child session per caller session. The exec's
    * alignment guard requires the two shuffle stages to land on
    * IDENTICAL partitionings; AQE coalesces each stage independently,
    * so on a default-configured session (AQE on) the guard would fire
    * almost every run. Executing the as-of plan on an AQE-off child
    * makes the public facade safe on any session — callers whose
    * session already has AQE off are returned as-is. The fixture
    * operators (`join_asof_native*`) pass the caller's session and so
    * share this one child.
    */
  private def aqeOffSession(s: SparkSession): SparkSession =
    if (s.conf.get("spark.sql.adaptive.enabled", "true") == "false") s
    else graft.Sessions.child(s, "asof")("spark.sql.adaptive.enabled" -> "false")

  /** As-of join `leftDf` to `rightDf`: every left row + the payload
    * columns of the matched right row (backward: latest right time
    * strictly before the left time; forward: earliest right time
    * at-or-after; nearest: smaller |delta| of inclusive-backward vs
    * forward candidates, ties to backward — BIGINT times only),
    * null-extended when no match. `rightTiebreak` names
    * right columns that pin which equal-(key, time) right row wins —
    * required for deterministic payloads when right rows can tie.
    */
  def asofJoin(s: SparkSession, leftDf: DataFrame, rightDf: DataFrame,
      leftKeyCol: String, rightKeyCol: String,
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreak: Seq[String] = Nil,
      forward: Boolean = false,
      nearest: Boolean = false): DataFrame = {
    val s2 = aqeOffSession(s)
    graft.Sessions.install(s2)
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(", ")}"))
    val node = AsofJoin(lPlan, rPlan,
      attr(lPlan, leftKeyCol), attr(rPlan, rightKeyCol),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol),
      rightTiebreak.map(attr(rPlan, _)), forward, nearest)
    org.apache.spark.sql.graft.DatasetBridge.ofRows(s2, node)
  }

  /** Convenience for building output column refs. */
  def col(name: String): Column = org.apache.spark.sql.functions.col(name)
}
