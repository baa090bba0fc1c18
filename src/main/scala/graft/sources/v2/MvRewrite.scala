package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.ops.{Mv, Snapshots}

/** TRANSPARENT materialized-view routing: an `Aggregate` whose shape a
  * registered MV ([[graft.ops.Mv]]) already stores — same base table,
  * same grouping keys, every aggregate one of `count(*)` / `count(c)` /
  * `sum(c)` over the MV's summed columns — is replaced by a scan of the
  * MV, IF AND ONLY IF the MV is FRESH: its `#mvbase=` cursor names
  * exactly the base version this plan is reading. Freshness is checked
  * against the version the relation PINNED at load, so the rewrite can
  * never serve a version the query didn't ask for; a stale MV, a
  * time-travel read, any WHERE clause, an expression key, a DISTINCT or
  * filtered aggregate, or any aggregate the MV doesn't store all leave
  * the plan untouched — the rewrite is a pure plan improvement, never a
  * semantics change. `SET spark.graft.mv.rewrite=false` turns it off.
  *
  * 100 TB story: `SELECT k, count(*), sum(v) FROM fact GROUP BY k` is
  * the dashboard query; with a maintained MV it becomes an MV-sized
  * scan instead of a full-fact scan + shuffle — and the user changes
  * nothing. Reference contrast: MR users hand-wired job chains to reuse
  * aggregate outputs (SURVEY.md §2.7 JobControl); here the optimizer
  * does the reuse, with the freshness proof in the manifest header.
  *
  * Substituted columns keep the original output's exprIds (Alias with
  * the aggregate attribute's id), so downstream operators re-bind
  * unchanged. The replaced-in relation is built PINNED at the MV's tip;
  * a refresh racing this plan serializes like any other reader. */
case class MvRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  import MvRewrite.checkedTag

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (session.sessionState.conf
        .getConfString("spark.graft.mv.rewrite", "true") != "true") return plan
    plan.transformUp {
      case agg: Aggregate if agg.groupingExpressions.nonEmpty &&
          agg.getTagValue(checkedTag).isEmpty =>
        relationOf(agg.child) match {
          case Some(table) if !table.pinned =>
            rewrite(agg, table).getOrElse { mark(agg) }
          case _ => mark(agg)
        }
    }
  }

  /** Mark an Aggregate as examined-and-unmatched so fixed-point
    * optimizer iterations don't re-pay the metadata reads. */
  private def mark(agg: Aggregate): Aggregate = {
    agg.setTagValue(checkedTag, true); agg
  }

  /** The snapshot relation under the Aggregate, looking through a pure
    * column-pruning Project (no renames, no expressions). */
  private def relationOf(p: LogicalPlan): Option[SnapshotTable] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: SnapshotTable => Some(t)
      case _ => None
    }
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(child)
    case _ => None
  }

  private def rewrite(agg: Aggregate, table: SnapshotTable): Option[LogicalPlan] = {
    val resolver = session.sessionState.conf.resolver
    // grouping keys must be bare columns
    val keyAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    Mv.usersOf(session, table.loc).iterator.flatMap { mvLoc =>
      Mv.readDef(session, mvLoc)
        .filter(_.baseLoc == table.loc)
        .filter(d => d.keys.length == keyAttrs.length &&
          keyAttrs.forall(a => d.keys.exists(resolver(_, a.name))))
        .flatMap { d =>
          // every output must map onto a stored MV column
          val mapped: Seq[Option[(NamedExpression, String)]] =
            agg.aggregateExpressions.map(ne => columnFor(ne, d, resolver)
              .map(c => ne -> c))
          if (mapped.exists(_.isEmpty)) None
          else {
            // freshness AND the version to serve read from ONE tip: a
            // refresh racing this plan could otherwise advance the MV
            // between the header check and the relation build, serving
            // content for a newer base version than the query pinned
            val tip = Snapshots.version(session, mvLoc)
            if (!tip.mvBase.contains(table.snapshotVersion)) None // STALE: never serve
            else build(mvLoc, tip, mapped.flatten)
          }
        }
    }.nextOption()
  }

  /** The MV column a single output expression reads, if any. */
  private def columnFor(ne: NamedExpression, d: Mv.Def,
                        resolver: (String, String) => Boolean): Option[String] = {
    def key(a: AttributeReference): Option[String] =
      d.keys.find(resolver(_, a.name))
    def sum(a: AttributeReference): Option[String] =
      d.sums.find(resolver(_, a.name))
    ne match {
      case a: AttributeReference => key(a)
      case Alias(child, _) => child match {
        case a: AttributeReference => key(a)
        case AggregateExpression(f, Complete, false, None, _) => f match {
          case Count(Seq(Literal(v, _))) if v != null => Some("n")
          case Count(Seq(a: AttributeReference)) => sum(a).map(c => s"c_$c")
          case Sum(a: AttributeReference, _) => sum(a).map(c => s"s_$c")
          case Sum(Cast(a: AttributeReference, dt, _, _), _)
              if dt == org.apache.spark.sql.types.LongType =>
            sum(a).map(c => s"s_$c")
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** Project(MV columns aliased to the aggregate's exprIds) over a
    * relation PINNED at exactly the tip whose freshness header the
    * caller verified. */
  private def build(mvLoc: String, tip: Snapshots.Version,
                    mapping: Seq[(NamedExpression, String)]): Option[LogicalPlan] = {
    if (tip.schema.isEmpty) return None
    val mvTable = new SnapshotTable(s"mv:$mvLoc@v${tip.version}", session,
      mvLoc, tip, pinned = true)
    val rel = DataSourceV2Relation.create(mvTable, None, None)
    val byName = rel.output.map(a => a.name -> a).toMap
    val projections = mapping.map { case (ne, mvCol) =>
      val src = byName.getOrElse(mvCol, return None)
      Alias(src, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
    }
    Some(Project(projections, rel))
  }
}

object MvRewrite {
  private val checkedTag = TreeNodeTag[Boolean]("graft.mv.checked")
}
