package graft.sources

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Evaluates expressions over a `netcdf` scan's `path` once per file,
  * not once per cell. The source emits one row per cell, and a
  * frame's region, day and timestamp are parts of its file path
  * (PAPER.md §1.1: the catalog is metadata, frames are the payload),
  * so a `regexp_extract` over `path` would otherwise run on every cell
  * row of every file.
  *
  * Over `Project? Filter*` on a netcdf relation, each subexpression
  * that is deterministic, reads `path` and nothing else, is not
  * foldable, and holds no lambda, aggregate, subquery or unevaluable
  * part becomes a column of the table: the reader evaluates it on a
  * file's first row ([[NetcdfSource]]) and the operators above read
  * that column. Only positions evaluated on every row are searched: a
  * conditional's lazy branches, the right operand of `And`/`Or`, a
  * higher-order function's lambda and `try` bodies are not entered
  * (a whole path-only `CASE` or `And` is hoisted as one). Runs before
  * the scan push-down, whose column pruning then drops `path` when
  * nothing else reads it. Registered by
  * [[graft.expressions.GraftExtensions]].
  */
private[graft] object HoistPathExprs extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case top @ (_: Project | _: Filter) => netcdfUnder(top).fold(top)(hoist(top, _))
  }

  /** The netcdf relation under `Project? Filter*`, if `top` is one. */
  private def netcdfUnder(top: LogicalPlan): Option[DataSourceV2Relation] = {
    def filters(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
      case Filter(_, c) => filters(c)
      case r: DataSourceV2Relation if r.table.isInstanceOf[NetcdfTable] => Some(r)
      case _ => None
    }
    top match {
      case Project(_, c) => filters(c)
      case f => filters(f)
    }
  }

  /** Reads `path` alone and may be computed once per file. */
  private def perFile(e: Expression, path: Attribute): Boolean =
    !e.isInstanceOf[NamedExpression] && e.deterministic && !e.foldable &&
      e.references == AttributeSet(path) && !e.exists {
        case _: Attribute => false
        case _: NamedLambdaVariable | _: LambdaFunction | _: AggregateExpression |
             _: PlanExpression[_] | _: Unevaluable => true
        case _ => false
      }

  /** The largest per-file subexpressions of `e` that every row evaluates. */
  private def everyRow(e: Expression, path: Attribute): Seq[Expression] =
    if (perFile(e, path)) Seq(e)
    else e match {
      case c: ConditionalExpression => c.alwaysEvaluatedInputs.flatMap(everyRow(_, path))
      case And(l, _) => everyRow(l, path)
      case Or(l, _) => everyRow(l, path)
      case h: HigherOrderFunction => h.arguments.flatMap(everyRow(_, path))
      case _: TryEval | _: PlanExpression[_] | _: AggregateExpression => Nil
      case _ => e.children.flatMap(everyRow(_, path))
    }

  private def hoist(top: LogicalPlan, rel: DataSourceV2Relation): LogicalPlan = {
    val path = rel.output.find(_.name == "path").get
    val table = rel.table.asInstanceOf[NetcdfTable]
    def bind(e: Expression): Expression = BindReferences.bindReference(e, Seq(path))
    val found = top.collect {
      case p: Project => p.projectList
      case f: Filter => Seq(f.condition)
    }.flatten.flatMap(everyRow(_, path)).map(bind)
    val fresh = found.foldLeft(Vector.empty[Expression]) { (acc, e) =>
      if ((table.pathExprs ++ acc).exists(_.semanticEquals(e))) acc else acc :+ e
    }
    if (fresh.isEmpty) top
    else {
      val hoisted = table.withPathExprs(fresh)
      val added = fresh.zipWithIndex.map { case (e, j) =>
        AttributeReference(NetcdfSource.pathExprName(table.pathExprs.size + j), e.dataType,
          e.nullable)()
      }
      val rel2 = rel.copy(table = hoisted, output = rel.output ++ added)
      val cols = hoisted.pathExprs.indices.map(k =>
        hoisted.pathExprs(k) -> rel2.output.find(_.name == NetcdfSource.pathExprName(k)).get)
      def subst(e: Expression): Expression = e.transformDown {
        case x if perFile(x, path) =>
          val b = bind(x)
          cols.collectFirst { case (h, a) if h.semanticEquals(b) => a }.getOrElse(x)
      }
      val rewritten = top.transformUp {
        case r: DataSourceV2Relation if r eq rel => rel2
        case Project(list, c) => Project(list.map(subst(_).asInstanceOf[NamedExpression]), c)
        case Filter(cond, c) => Filter(subst(cond), c)
      }
      // a Filter passes its child's columns through: keep the new ones
      // out of its output
      top match {
        case _: Filter => Project(top.output, rewritten)
        case _ => rewritten
      }
    }
  }
}
