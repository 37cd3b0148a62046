package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.constraints.{PrimaryKey, Unique}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

/** B97, optimizer half: SPEND the informational key facts. A
  * `SELECT DISTINCT` whose grouping covers a RELY PRIMARY KEY / UNIQUE
  * key of the underlying table is a no-op — the rows are already
  * unique on a subset of the grouping — so the Aggregate (and with it
  * a whole shuffle exchange: distinct is the planner's
  * HashAggregate×2 + Exchange sandwich) is deleted outright. This is
  * the classic warehouse payoff of NOT ENFORCED keys: dimension
  * subqueries are habitually written `SELECT DISTINCT pk, attr FROM
  * dim` out of defensive habit, and at 100 TB the useless exchange is
  * real money.
  *
  * Soundness: the fact is UNVALIDATED (the store checks uniqueness
  * once at add, never per commit), so the rewrite fires ONLY for keys
  * the user declared RELY — the standard opt-in contract ("the
  * optimizer may assume this; wrong results are on the declarer if
  * the data lies"), same as Snowflake/Databricks RELY.
  *
  * Shape matched: `Aggregate` in distinct form (every grouping and
  * result expression a plain Attribute — the shape
  * ReplaceDistinctWithAggregate and GROUP-BY-all-outputs produce),
  * over any chain of Filter/Project (both are 1:1-or-fewer on rows, so
  * uniqueness survives; the key attributes must reach the grouping
  * UN-ALIASED — attribute identity is the proof the values are the
  * relation's own), over a DSv2 relation whose table reports a RELY
  * PK/UNIQUE whose columns are all in the grouping set. Escape hatch:
  * `spark.graft.keyDistinct.enabled=false`.
  */
object KeyDistinct {

  object EliminateDistinctOnKey extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (conf.getConfString("spark.graft.keyDistinct.enabled", "true") != "true") return plan
      plan.transformUp {
        case agg: Aggregate
            if distinctShape(agg) &&
              keyCovered(agg.child, AttributeSet(agg.groupingExpressions)) =>
          Project(agg.aggregateExpressions.asInstanceOf[Seq[NamedExpression]], agg.child)
      }
    }

    /** Pure distinct: grouping and result are plain attributes (no
      * aggregate functions possible), result drawn from the grouping.
      */
    private def distinctShape(agg: Aggregate): Boolean =
      agg.groupingExpressions.nonEmpty &&
        agg.groupingExpressions.forall(_.isInstanceOf[Attribute]) &&
        agg.aggregateExpressions.forall(_.isInstanceOf[Attribute]) &&
        agg.aggregateExpressions.forall(e =>
          AttributeSet(agg.groupingExpressions).contains(e.asInstanceOf[Attribute]))

    /** Rows of `plan` are unique on `group`: a relation below reports a
      * RELY key whose columns all reach the grouping with attribute
      * identity intact; Filter/Project never multiply rows, so the
      * uniqueness survives the chain.
      */
    private def keyCovered(plan: LogicalPlan, group: AttributeSet): Boolean = plan match {
      case f: Filter  => keyCovered(f.child, group)
      case p: Project => keyCovered(p.child, group)
      // V2ScanRelationPushDown runs before injected rules, so by the
      // time this rule sees the plan the relation is usually already a
      // ScanRelation — both shapes carry the same Table
      case r: DataSourceV2Relation     => tableCovers(r.table, r.output, group)
      case s: DataSourceV2ScanRelation => tableCovers(s.relation.table, s.output, group)
      case _                           => false
    }

    private def tableCovers(
        table: Table,
        output: Seq[Attribute],
        group: AttributeSet): Boolean = {
      def covered(cols: Array[org.apache.spark.sql.connector.expressions.NamedReference]): Boolean = {
        val names = cols.toSeq.map { c =>
          if (c.fieldNames().length == 1) Some(c.fieldNames()(0)) else None
        }
        // session resolver (honors spark.sql.caseSensitive), and the
        // match must be UNAMBIGUOUS: with a case-sensitive schema
        // holding two columns differing only in case, a first-match
        // lookup could certify coverage through the wrong attribute
        // and delete a DISTINCT that is not redundant
        names.forall(_.isDefined) && names.flatten.forall { n =>
          output.filter(a => conf.resolver(a.name, n)) match {
            case Seq(one) => group.contains(one)
            case _        => false // unresolved or ambiguous: no rewrite
          }
        }
      }
      try table.constraints().exists {
        case pk: PrimaryKey if pk.rely() && !pk.enforced() => covered(pk.columns())
        case u: Unique if u.rely() && !u.enforced()        => covered(u.columns())
        case _                                             => false
      } catch { case _: Exception => false } // a flaky metadata read never fails planning
    }
  }
}
