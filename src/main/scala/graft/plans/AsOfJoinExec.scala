package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Logical as-of join: for every left (probe) row, the latest right
  * (build) row with equal keys whose `rightTs` is at-or-before the
  * probe's `leftTs` (ties on `rightTs` broken by `rightTie`, largest
  * wins); unmatched probes keep null right columns. This is the
  * whole-operator form of [[graft.operators.AsOfJoin.asOf]] — the same
  * semantics the union+window rewrite computes — expressed as a
  * first-class plan node so the planner can pick a dedicated physical
  * strategy ([[AsOfJoinExec]]). Rows with a null key or null timestamp
  * on either side are dropped (they have no position on the timeline;
  * equi-join null-key semantics), matching the operator contract.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightTie: Seq[Expression], strict: Boolean = false,
    toleranceMicros: Option[Long] = None,
    forward: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping [[AsOfJoinNode]] to [[AsOfJoinExec]] —
  * injected by [[GraftExtensions]] (`spark.sql.extensions`).
  */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinNode =>
      AsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftKeys, j.rightKeys, j.leftTs, j.rightTs, j.rightTie,
        j.strict, j.toleranceMicros, j.forward) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: ONE forward merge scan over two co-partitioned,
  * co-sorted children — the sort-merge-join shape specialized to
  * point-in-time semantics. `requiredChildDistribution` clusters both
  * sides on their keys and `requiredChildOrdering` sorts them by
  * (keys, ts[, tie]), so EnsureRequirements plans exactly one exchange
  * and one sort per side; the scan itself holds O(1) state per
  * partition (the current match candidate), never a per-probe history
  * scan and never a candidate cross product. This is the 100 TB shape:
  * each input row crosses the wire once, partitions stream through the
  * merge without buffering, and skew is bounded by the hottest single
  * key exactly as in any keyed shuffle.
  *
  * Semantics (pinned equal to [[graft.operators.AsOfJoin.asOf]] by
  * spec + the shared driver oracle): latest right row with equal keys
  * and `rightTs <= leftTs` (`forward = true` flips the direction: the
  * EARLIEST right row with `rightTs >= leftTs`; `strict` excludes
  * equality either way); equal-`rightTs` duplicates resolve to the
  * sort-latest (i.e. largest `rightTie`) in BOTH directions; probes
  * with no match emit null right columns; null-key/null-ts rows drop
  * on both sides; `toleranceMicros` bounds the match distance.
  * Timestamps must be TimestampType or LongType (compared as their
  * long value — epoch micros for timestamps). Both directions run the
  * same ascending co-sorted merge — forward differs only in which side
  * of the probe the frontier settles on, so the child orderings (and
  * the one-exchange-one-sort-per-side plan) are direction-independent.
  */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightTie: Seq[Expression], strict: Boolean = false,
    toleranceMicros: Option[Long] = None,
    forward: Boolean = false) extends BinaryExecNode {

  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    "as-of join needs matching key lists")
  require(Seq(leftTs, rightTs).forall(e =>
      e.dataType == TimestampType || e.dataType == LongType),
    "as-of timestamps must be TIMESTAMP or BIGINT")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTs +: rightTie)).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    val lKeyExprs = leftKeys; val rKeyExprs = rightKeys
    val lTsExpr = leftTs; val rTsExpr = rightTs
    val keyTypes = leftKeys.map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), leftOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      // downstream operators (and the collect path) require UnsafeRow;
      // project the JoinedRow through the output schema like SMJ does.
      // Bind against the NULLABILITY-ADJUSTED output (right side
      // nullable): binding against right.output's original non-nullable
      // attributes would skip the null check and read unmatched rows'
      // null slots as garbage zeros
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      // held-back right row not yet merged (keys strictly ahead of the
      // current probe, or same keys with a future timestamp)
      var rHeld: InternalRow = null
      var rHeldKey: UnsafeRow = null
      var rHeldTs = 0L
      // latest right row at-or-before the current probe, with its key
      // and timestamp (the tolerance bound checks the ts at emit time)
      var candKey: UnsafeRow = null
      var cand: InternalRow = null
      var candTs = 0L

      def advanceRight(): Boolean = { // fill rHeld with the next valid row
        while (rHeld == null && rIter.hasNext) {
          val r = rIter.next()
          val k = rKeyProj(r)
          val ts = rTsProj(r)
          if (!k.anyNull && !ts.isNullAt(0)) {
            rHeld = r // zipPartitions rows are reused; copy only if kept
            rHeldKey = k.copy()
            rHeldTs = ts.getLong(0)
          }
        }
        rHeld != null
      }

      new Iterator[InternalRow] {
        private var nextRow: InternalRow = null

        private def computeNext(): Unit = {
          nextRow = null
          while (nextRow == null && lIter.hasNext) {
            val l = lIter.next()
            val lKey = lKeyProj(l)
            val lTsRow = lTsProj(l)
            if (!lKey.anyNull && !lTsRow.isNullAt(0)) {
              val lTs = lTsRow.getLong(0)
              if (forward) {
                // EARLIEST right row at-or-after (strict: after) the
                // probe; equal-ts duplicates resolve to the largest
                // tie-break. Probes ascend, so right rows too early for
                // THIS probe are too early for every later one — the
                // frontier only advances, O(1) state, each side scanned
                // once. The candidate is only rebuilt when it is absent,
                // behind the probe's key, or no longer qualifies; a
                // candidate AHEAD of the probe's key is kept for the
                // probes that will reach it.
                def qual(ts: Long): Boolean =
                  if (strict) ts > lTs else ts >= lTs
                val cmpCand =
                  if (candKey == null) -1 else keyOrd.compare(candKey, lKey)
                if (candKey == null || cmpCand < 0 ||
                    (cmpCand == 0 && !qual(candTs))) {
                  candKey = null; cand = null
                  var more = true
                  while (more && advanceRight()) {
                    val c = keyOrd.compare(rHeldKey, lKey)
                    if (c < 0) rHeld = null          // key already passed
                    else if (c == 0 && !qual(rHeldTs)) rHeld = null // early
                    else if (c == 0) {
                      // first qualifying row: fold its equal-ts run so
                      // the sort-last (largest tie-break) wins
                      candKey = rHeldKey; cand = rHeld.copy()
                      candTs = rHeldTs; rHeld = null
                      var run = true
                      while (run && advanceRight()) {
                        if (keyOrd.compare(rHeldKey, candKey) == 0 &&
                            rHeldTs == candTs) {
                          cand = rHeld.copy(); rHeld = null
                        } else run = false
                      }
                      more = false
                    } else more = false              // key strictly ahead
                  }
                }
                val matched = candKey != null &&
                  keyOrd.compare(candKey, lKey) == 0 && qual(candTs) &&
                  toleranceMicros.forall(tol => candTs - lTs <= tol)
                nextRow =
                  resultProj(joined(l, if (matched) cand else nullRight))
              } else {
                // fold in every right row at-or-before this probe; later
                // rows in (key, ts, tie) order overwrite the candidate,
                // so equal-ts ties resolve to the largest tie-break
                var more = true
                while (more && advanceRight()) {
                  val c = keyOrd.compare(rHeldKey, lKey)
                  if (c < 0) { rHeld = null }        // key already passed
                  else if (c == 0 &&
                      (if (strict) rHeldTs < lTs else rHeldTs <= lTs)) {
                    candKey = rHeldKey
                    cand = rHeld.copy()
                    candTs = rHeldTs
                    rHeld = null
                  } else more = false                // strictly ahead
                }
                val matched = candKey != null &&
                  keyOrd.compare(candKey, lKey) == 0 &&
                  toleranceMicros.forall(tol => lTs - candTs <= tol)
                nextRow =
                  resultProj(joined(l, if (matched) cand else nullRight))
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextRow == null) computeNext()
          nextRow != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val out = nextRow
          nextRow = null
          out
        }
      }
    }
  }
}
