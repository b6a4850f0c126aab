package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the `row_number() over (partition by K order by O)
  * ... where rn = 1` idiom into a `min_by`/`max_by` aggregate.
  *
  * The window formulation shuffles and sorts EVERY row; the aggregate is a
  * partial-combining hash aggregate whose shuffle carries one row per key
  * per map partition — at 100 TB the difference between sorting the dataset
  * and sorting nothing (SCALE.md "latest-per-station"). This rule makes the
  * engine apply the rewrite automatically, so users who write the common
  * window idiom get the aggregate plan.
  *
  * Safety: fires only when
  *   - the Window has exactly ONE window expression, a `row_number()` over
  *     ROWS UNBOUNDED PRECEDING..CURRENT ROW (the default frame),
  *   - the filter is `rn = 1` / `1 = rn` / `rn <= 1` directly above it,
  *   - PARTITION BY is non-empty (a global aggregate emits one all-null row
  *     on empty input where the window form emits zero rows),
  *   - every sort key has the SAME direction (lexicographic struct
  *     comparison must agree with the multi-column sort order),
  *   - sort keys are orderable atomic types.
  *
  * Null ordering: `min_by`/`max_by` skip rows whose ordering value is null,
  * while `row_number` ranks them per each key's NULLS FIRST/LAST. To
  * preserve those semantics with nullable sort keys, each nullable key is
  * encoded in the aggregate's ordering struct as a pair
  * `(null-rank-flag, key)`: the flag is 0/1 chosen so that null keys compare
  * exactly where the window's `nullOrdering` puts them under the aggregate's
  * min/max selection. The flag itself is never null, so the ordering struct
  * is never null (never skipped), and the raw key field is only compared
  * when both sides agree on nullness.
  * Tie semantics: with duplicate (K, O) rows, `row_number` picks a
  * sort-implementation-defined winner and min_by/max_by an
  * aggregation-order-defined winner — both are nondeterministic choices
  * among ties, so the rewrite preserves the (already nondeterministic)
  * semantics.
  *
  * Injected at session build time by [[GraftExtensions]].
  */
object TopOnePerKeyRewrite extends Rule[LogicalPlan] {

  private def isOne(e: Expression): Boolean = e match {
    case Literal(v: Int, _)  => v == 1
    case Literal(v: Long, _) => v == 1L
    case _ => false
  }

  /** The filter predicate keeps only rank 1 of `rnId`. */
  private def keepsRankOne(cond: Expression, rnId: ExprId): Boolean = cond match {
    case EqualTo(a: AttributeReference, l) => a.exprId == rnId && isOne(l)
    case EqualTo(l, a: AttributeReference) => a.exprId == rnId && isOne(l)
    case LessThanOrEqual(a: AttributeReference, l) => a.exprId == rnId && isOne(l)
    case GreaterThanOrEqual(l, a: AttributeReference) => a.exprId == rnId && isOne(l)
    case _ => false
  }

  /** Sort keys must be scalar orderable types whose struct-lexicographic
    * comparison matches multi-column sort semantics.
    */
  private[plans] def scalarOrderable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | TimestampType | TimestampNTZType |
           DateType | BooleanType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  private[plans] def defaultRowFrame(f: WindowFrame): Boolean = f match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
    case UnspecifiedFrame => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond,
        Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(),
            WindowSpecDefinition(part, order, frame)), _)), _, _, child0, _))
        if keepsRankOne(cond, alias.exprId) &&
          defaultRowFrame(frame) &&
          part.nonEmpty &&
          order.nonEmpty &&
          order.map(_.direction).distinct.size == 1 &&
          order.forall(o => scalarOrderable(o.child.dataType)) =>

      // Spark's InferWindowGroupLimit may already have inserted a
      // WindowGroupLimit below the Window; it requires a per-partition sort
      // the aggregate doesn't need — strip it and aggregate the raw child.
      val child = child0 match {
        case WindowGroupLimit(_, _, _, _, grandchild) => grandchild
        case other => other
      }
      val value = CreateStruct(child.output)
      val direction = order.head.direction
      // Encode each nullable key as (flag, key) so null keys rank exactly
      // where the window's nullOrdering puts them (see Scaladoc). For
      // min_by (ASC, picks smallest) nulls-first means null flag must be the
      // smaller; for max_by (DESC, picks largest) nulls-first means the
      // null flag must be the larger.
      val encodedKeys: Seq[Expression] = order.flatMap { o =>
        if (!o.child.nullable) Seq(o.child)
        else {
          val nullFlag = (direction, o.nullOrdering) match {
            case (Ascending, NullsFirst)  => 0
            case (Ascending, NullsLast)   => 1
            case (Descending, NullsFirst) => 1
            case (Descending, NullsLast)  => 0
          }
          Seq(If(IsNull(o.child), Literal(nullFlag), Literal(1 - nullFlag)),
            o.child)
        }
      }
      val ordering = if (encodedKeys.length == 1) encodedKeys.head
        else CreateStruct(encodedKeys.toList)
      val aggFn = direction match {
        case Ascending  => MinBy(value, ordering)
        case Descending => MaxBy(value, ordering)
      }
      val best = Alias(
        AggregateExpression(aggFn, Complete, isDistinct = false), "__top1")()
      val agg = Aggregate(part, Seq(best), child)
      val bestRef = best.toAttribute
      // restore the original output attributes (same names AND exprIds so
      // parent plans keep resolving) + the rank column as literal 1
      val restored = child.output.zipWithIndex.map { case (a, i) =>
        Alias(GetStructField(bestRef, i, Some(a.name)), a.name)(exprId = a.exprId)
      } :+ Alias(Literal(1), alias.name)(exprId = alias.exprId)
      Project(restored, agg)
  }
}

/** Optimizer rule: the k > 1 generalization of [[TopOnePerKeyRewrite]] —
  * rewrite `row_number() over (partition by K order by O) … where rn <= k`
  * into the bounded [[graft.functions.TopKBy]] aggregate + `posexplode`.
  *
  * The window form shuffles and sorts EVERY row of every key; the rewrite
  * keeps an O(k) heap per group with map-side partial combine, so the
  * shuffle carries k rows per key per partition — the plan a 100 TB top-k
  * wants, applied automatically to the idiom users actually write.
  *
  * Shares [[TopOnePerKeyRewrite]]'s guards (single row_number window
  * expression, default frame, non-empty PARTITION BY, uniform sort
  * direction, scalar orderable keys) and its null-rank flag encoding, so
  * NULLS FIRST/LAST behave exactly as the window ranks them. Runs AFTER
  * the top-1 rule in the rule list, so `rn <= 1`/`rn = 1` still take the
  * cheaper min_by/max_by plan and this rule only sees k >= 2.
  *
  * Descending sorts set the aggregate's `reverse` flag rather than
  * negating keys (negation can't express string DESC); the emitted array
  * is best-first either way, so `rank = pos + 1`.
  */
object TopKPerKeyRewrite extends Rule[LogicalPlan] {
  import TopOnePerKeyRewrite.{defaultRowFrame, scalarOrderable}

  /** Extract k from `rn <= k` / `k >= rn` with k >= 2. */
  private def rankBound(cond: Expression, rnId: ExprId): Option[Int] = {
    def bigEnough(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) if v >= 2 => Some(v)
      case Literal(v: Long, _) if v >= 2L && v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
    cond match {
      case LessThanOrEqual(a: AttributeReference, l) if a.exprId == rnId =>
        bigEnough(l)
      case GreaterThanOrEqual(l, a: AttributeReference) if a.exprId == rnId =>
        bigEnough(l)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond,
        Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(),
            WindowSpecDefinition(part, order, frame)), _)), _, _, child0, _))
        if rankBound(cond, alias.exprId).isDefined &&
          defaultRowFrame(frame) &&
          part.nonEmpty &&
          order.nonEmpty &&
          order.map(_.direction).distinct.size == 1 &&
          order.forall(o => scalarOrderable(o.child.dataType)) =>

      val k = rankBound(cond, alias.exprId).get
      val child = child0 match {
        case WindowGroupLimit(_, _, _, _, grandchild) => grandchild
        case other => other
      }
      val value = CreateStruct(child.output)
      val direction = order.head.direction
      // identical null-rank flag encoding to the top-1 rule: the flag is
      // chosen so null keys compare where the window's nullOrdering puts
      // them under the EFFECTIVE (possibly reversed) ordering
      val encodedKeys: Seq[Expression] = order.flatMap { o =>
        if (!o.child.nullable) Seq(o.child)
        else {
          val nullFlag = (direction, o.nullOrdering) match {
            case (Ascending, NullsFirst)  => 0
            case (Ascending, NullsLast)   => 1
            case (Descending, NullsFirst) => 1
            case (Descending, NullsLast)  => 0
          }
          Seq(If(IsNull(o.child), Literal(nullFlag), Literal(1 - nullFlag)),
            o.child)
        }
      }
      val ordering = if (encodedKeys.length == 1) encodedKeys.head
        else CreateStruct(encodedKeys.toList)
      val topk = Alias(
        AggregateExpression(
          graft.functions.TopKBy(value, ordering, k,
            reverse = direction == Descending),
          Complete, isDistinct = false), "__topk")()
      val agg = Aggregate(part, Seq(topk), child)
      val topkRef = topk.toAttribute
      // posexplode the best-first array: pos 0 = rank 1
      val posAttr = AttributeReference("__pos",
        org.apache.spark.sql.types.IntegerType, nullable = false)()
      val colAttr = AttributeReference("__row", value.dataType,
        nullable = false)()
      // agg.output = [__topk] alone; the array itself is consumed by the
      // generator and not needed above it
      val gen = Generate(PosExplode(topkRef), unrequiredChildIndex = Seq(0),
        outer = false, qualifier = None,
        generatorOutput = Seq(posAttr, colAttr), agg)
      val restored = child.output.zipWithIndex.map { case (a, i) =>
        Alias(GetStructField(colAttr, i, Some(a.name)), a.name)(exprId = a.exprId)
      } :+ Alias(Add(posAttr, Literal(1)), alias.name)(exprId = alias.exprId)
      Project(restored, gen)
  }
}
