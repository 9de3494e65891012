package graft.plans

import graft.functions.TopKAgg

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** `Rule[LogicalPlan]` rewriting the rank-window top-k-per-group idiom
  *
  * {{{ Filter(rank <= k, Window(row_number() OVER (PARTITION BY g ORDER
  *     BY score DESC, id ASC) AS rank, child)) }}}
  *
  * into the k-bounded aggregate form
  *
  * {{{ Project(Generate(posexplode(arr), Aggregate(g, topk_agg(id,
  *     score, k) AS arr, child))) }}}
  *
  * — the plan whose exchange carries one ≤k-entry buffer per (group,
  * task) instead of the window's per-group candidate rows (see
  * [[graft.functions.TopKAgg]]). This completes the Catalyst extension
  * surface: Expression (`py_findall`, `multi_match`), Generator
  * (`extract_items`), aggregates (`hll_sketch`/`cms_sketch`/`topk_agg`),
  * and an optimizer Rule, injected via
  * `SparkSessionExtensions.injectOptimizerRule` ([[GraftExtensions]]).
  *
  * The rewrite fires only where it is PROVABLY semantics-preserving —
  * every guard below is a soundness condition, pinned in TopKRewriteSpec:
  *  - exactly one window expression, a frameless/default-frame
  *    `row_number()`, its rank consumed by a single `rank <= k` /
  *    `rank < k` / reversed comparison with an integer literal;
  *  - order is the aggregate's total order (score DESC, id ASC), both
  *    non-nullable attributes (the aggregate skips nulls, the window
  *    ranks them — nullable inputs stay on the window path), score
  *    long, id long or string (binary collation order);
  *  - the window child's visible columns are exactly {partition keys,
  *    id, score} — any other column would be dropped by the aggregate;
  *  - partition keys are attributes disjoint from id/score.
  *
  * Output attribute ids are preserved (aliases re-bind the original
  * exprIds), so parents of the Filter resolve unchanged. Disable with
  * `spark.graft.topkRewrite=false`.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.topkRewrite", "true").toBoolean) plan
    else plan.transformDown {
      case f @ Filter(cond, w: Window) =>
        rewrite(cond, w).getOrElse(f)
    }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    // one row_number() window expression with the default running frame
    val (rankAlias, rankAttr) = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(_: RowNumber, spec), _))
          if spec.frameSpecification == SpecifiedWindowFrame(
            RowFrame, UnboundedPreceding, CurrentRow) =>
        (a, a.toAttribute)
      case _ => return None
    }
    // rank <= k (or the < / reversed-literal spellings)
    val k: Int = cond match {
      case LessThanOrEqual(r: Attribute, Literal(v: Int, IntegerType))
          if r.semanticEquals(rankAttr) => v
      case LessThan(r: Attribute, Literal(v: Int, IntegerType))
          if r.semanticEquals(rankAttr) => v - 1
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), r: Attribute)
          if r.semanticEquals(rankAttr) => v
      case GreaterThan(Literal(v: Int, IntegerType), r: Attribute)
          if r.semanticEquals(rankAttr) => v - 1
      case _ => return None
    }
    if (k < 1 || k > (1 << 20)) return None
    // the aggregate's total order: (score DESC, id ASC), non-nullable
    val (scoreAttr, idAttr) = w.orderSpec match {
      case Seq(SortOrder(s: Attribute, Descending, _, _),
               SortOrder(i: Attribute, Ascending, _, _))
          if !s.nullable && !i.nullable &&
            s.dataType == LongType &&
            (i.dataType == LongType || i.dataType == StringType) =>
        (s, i)
      case _ => return None
    }
    // partition keys: plain attributes, disjoint from id/score
    val groupAttrs = w.partitionSpec.map {
      case a: Attribute => a
      case _ => return None
    }
    if (groupAttrs.exists(g =>
      g.semanticEquals(idAttr) || g.semanticEquals(scoreAttr))) return None
    // nothing but {group keys, id, score} may flow out of the child —
    // the aggregate would drop any other column
    val visible = groupAttrs :+ idAttr :+ scoreAttr
    if (!w.child.outputSet.subsetOf(AttributeSet(visible))) return None

    val agg = TopKAgg(idAttr, scoreAttr, k).toAggregateExpression()
    val arrAlias = Alias(agg, "__topk")()
    val aggregate = Aggregate(groupAttrs, groupAttrs :+ arrAlias, w.child)

    val entryType = StructType(Seq(
      StructField("id", idAttr.dataType, nullable = false),
      StructField("score", LongType, nullable = false)))
    val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
    val colAttr = AttributeReference("col", entryType, nullable = false)()
    val generate = Generate(
      PosExplode(arrAlias.toAttribute),
      unrequiredChildIndex = Seq(groupAttrs.length), // the array itself
      outer = false,
      qualifier = None,
      generatorOutput = Seq(posAttr, colAttr),
      child = aggregate)

    // rebuild the Filter's output schema under the ORIGINAL exprIds:
    // child columns in child order, then the rank column
    val projectList: Seq[NamedExpression] = w.child.output.map { a =>
      if (a.semanticEquals(idAttr))
        Alias(GetStructField(colAttr, 0, Some("id")), a.name)(exprId = a.exprId)
      else if (a.semanticEquals(scoreAttr))
        Alias(GetStructField(colAttr, 1, Some("score")), a.name)(exprId = a.exprId)
      else a
    } :+ Alias(Add(posAttr, Literal(1)), rankAlias.name)(exprId = rankAttr.exprId)
    Some(Project(projectList, generate))
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — injects the
  * optimizer rule at session build time, the deployment-grade
  * registration path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => TopKWindowRewrite)
}
