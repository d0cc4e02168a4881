package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join as a first-class Catalyst citizen — the
  * option-(c) rung of the extension ladder (custom LogicalPlan + Strategy +
  * SparkPlan, injected via SparkSessionExtensions), for the one operator
  * semantics built-ins express only by detour: the composed form
  * ([[graft.ops.Events.asofJoin]]) pays a tagged UNION with null-padded
  * mirror columns plus a running `last(ignoreNulls)` window that buffers
  * a frame per row; this node executes the textbook merge directly.
  *
  * Physical contract (the 100 TB shape): both children hash-cluster on
  * their key and sort by (key, time) — EnsureRequirements inserts the
  * exchanges/sorts and aligns the two clusterings exactly as it does for a
  * sort-merge join, so the operator costs ONE co-partitioned shuffle+sort
  * per side and a single forward merge pass per partition: each right row
  * is visited once per partition, state is one buffered value row, memory
  * is O(1) per partition (the window form buffers running frames through
  * the window exec). Output keeps the left ordering, so a downstream
  * (key, time) consumer re-sorts nothing.
  *
  * Match semantics (identical to the composed form, spec-pinned): latest
  * right row with the same key and time at-or-before the left row's; no
  * match → nulls; NULL keys/times never match (SQL join semantics).
  * Caller contract: right side unique per (key, time) — among exact
  * (key, time) duplicates sort order is not stable, so the survivor would
  * be nondeterministic (same contract as the composed form).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    rightValues: Seq[Expression],
    // output attrs for the matched columns are pre-built (not Aliases in
    // the node: CleanupAliases trims aliases from every non-whitelisted
    // operator, which would rename matched_<c> back to <c>)
    matchedOutput: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ matchedOutput

  // matchedOutput is GENERATED here, not consumed from the children —
  // without this, QueryPlan counts the constructor arg into `references`
  // and CheckAnalysis reports it missing from the input
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(matchedOutput)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping [[AsOfJoinPlan]] to [[AsOfJoinExec]];
  * injected by [[graft.GraftExtensions]]. */
class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, rv, mo) =>
      AsOfJoinExec(lk, lt, rk, rt, rv, mo, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Merge-based as-of join exec. See [[AsOfJoinPlan]] for the contract. */
case class AsOfJoinExec(
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    rightValues: Seq[Expression],
    matchedOutput: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ matchedOutput

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(matchedOutput)

  // hash-cluster both sides on their key; EnsureRequirements aligns the
  // two clusterings (reshuffling if incompatible) exactly as for SMJ
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // the merge emits left rows in their sorted order — advertise it so a
  // downstream (key, time) sort is elided
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val rValsB = rightValues.map(BindReferences.bindReference(_, right.output))
    val outAttrs = output
    val nVals = rightValues.length

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val valsProj = UnsafeProjection.create(rValsB)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullVals = new GenericInternalRow(nVals)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // last right (key, values) consumed with a matching-time row; valid
      // for a left row iff the stored key equals the left's
      var storedKey: Any = null
      var storedVals: InternalRow = null
      var haveStored = false

      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val lrow = lIter.next()
          val k = lKeyB.eval(lrow)
          val t = lTimeB.eval(lrow)
          var matched: InternalRow = null
          if (k != null && t != null) {
            // advance the right cursor through every row at-or-before
            // (k, t); each right row is consumed exactly once per partition
            var done = false
            while (!done && rBuf.hasNext) {
              val rrow = rBuf.head
              val rk = rKeyB.eval(rrow)
              if (rk == null) { rBuf.next() }           // null keys never match
              else {
                val ck = keyOrd.compare(rk, k)
                if (ck < 0) { rBuf.next() }             // key already passed
                else if (ck == 0) {
                  val rt = rTimeB.eval(rrow)
                  if (rt == null) { rBuf.next() }       // null times never match
                  else if (timeOrd.compare(rt, t) <= 0) {
                    storedKey = rk
                    storedVals = valsProj(rrow).copy()  // survives cursor reuse
                    haveStored = true
                    rBuf.next()
                  } else done = true                    // future row: stop
                } else done = true                      // right ahead: stop
              }
            }
            if (haveStored && keyOrd.compare(storedKey, k) == 0) matched = storedVals
          }
          outProj(if (matched ne null) joined(lrow, matched) else joined(lrow, nullVals))
        }
      }
    }
  }
}

/** Public API for the native as-of join. */
object AsOfJoin {

  /** Attach to each left row the latest right row at-or-before its time,
    * per key — the native-operator twin of
    * [[graft.ops.Events.asofJoin]] (same argument and output contract:
    * left columns plus `matched_<col>` for each requested right column).
    * Requires the session to carry [[graft.GraftExtensions]] (which
    * injects [[AsOfJoinStrategy]]).
    *
    * Streaming enrichment is this join per micro-batch through
    * [[graft.streaming.StateSink.run]] against the reference snapshot
    * current at arrival: the concatenated output equals the batch join of
    * everything arrived against a static reference (spec-pinned). Replay:
    * output is per-row, so a redelivered batch is enriched twice.
    *
    * Column names resolve by the session's resolver (case-insensitive
    * unless `spark.sql.caseSensitive` is set), as SQL names do; the
    * `graft_asof_join` table function calls this. */
  def apply(left: DataFrame, right: DataFrame, key: String, timeUs: String,
            valueCols: Seq[String]): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val resolver = left.queryExecution.sparkSession.sessionState.conf.resolver
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: $side side has no column '$n' " +
            s"(has: ${p.output.map(_.name).mkString(", ")})"))
    val rv = valueCols.map(c => attr(rp, c, "right"))
    val mo = rv.map(a =>
      AttributeReference(s"matched_${a.name}", a.dataType, nullable = true)())
    org.apache.spark.sql.graft.GraftSqlShim.ofRows(left.sparkSession,
      AsOfJoinPlan(lp, rp,
        attr(lp, key, "left"), attr(lp, timeUs, "left"),
        attr(rp, key, "right"), attr(rp, timeUs, "right"), rv, mo))
  }
}
