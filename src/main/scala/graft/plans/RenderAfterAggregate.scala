package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{Ip4Ntoa, Ip4ToBin16, Ip6Ntoa}

/** Optimizer rule: hash-aggregate on the RAW value, render text after.
  *
  * The reference dashboards group by the rendered address string —
  * `GROUP BY IPv4NumToString(...)`
  * (`/root/reference/compose/grafana/dashboards/viz-ch.json:233`) — which at
  * scale means one codec call per input row and string shuffle keys. The
  * graft codec renders are injective (each input value has exactly one text
  * form), so grouping by the codec's INPUT is semantics-preserving: this
  * rule rewrites
  *
  *   Aggregate(group = render(c), out = [render(c) AS addr, aggs...])
  * to
  *   Project(render(c') AS addr, aggs...)           — ≤ groups renders
  *     Aggregate(group = key(c), out = [key(c) AS addr_raw, aggs...]) — 8-byte keys
  *
  * where key(c) is c for the fully-injective Ip6 render and
  * `c & 0xFFFFFFFF` for the v4 renders (which read only the low 32 bits —
  * grouping on the raw long would SPLIT groups the rendered grouping
  * merges)
  *
  * preserving the output attribute ids so parent plans are untouched. The
  * rewrite is applied only when every reference to the rendered value in the
  * aggregate list is the bare grouping expression (possibly aliased) — a
  * render nested inside another expression or aggregate function is left
  * alone. `ReinterpretUint32` is deliberately NOT eligible: it drops 12
  * bytes, so it is not injective.
  *
  * The survey (§4) originally judged no custom rule necessary; round-1
  * review flagged the rendered-string grouping as the one plan that decays
  * at 100x, and the library's own queries group numerically by hand — this
  * rule gives ad-hoc SQL users the same plan automatically.
  */
object RenderAfterAggregate extends Rule[LogicalPlan] {

  /** Injective text/binary renders safe to move above an aggregate. */
  private def isInjectiveRender(e: Expression): Boolean = e match {
    case _: Ip4Ntoa | _: Ip6Ntoa | _: Ip4ToBin16 => true
    case _ => false
  }

  /** The grouping key that is injective WITH RESPECT TO the render.
    * Ip4Ntoa/Ip4ToBin16 read only the low 32 bits of their input, so two
    * longs equal mod 2^32 render identically — grouping on the raw long
    * would split groups the rendered grouping merges (r7 review finding).
    * Group on the masked value instead; Ip6Ntoa consumes its full 16-byte
    * input and groups on it unchanged. */
  private def rawKeyOf(render: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, Cast, Literal}
    import org.apache.spark.sql.types.LongType
    render match {
      case _: Ip4Ntoa | _: Ip4ToBin16 =>
        BitwiseAnd(Cast(render.children.head, LongType), Literal(0xFFFFFFFFL, LongType))
      case _ => render.children.head
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if agg.resolved =>
      val renders = agg.groupingExpressions.filter(g =>
        isInjectiveRender(g) && g.deterministic && g.children.forall(_.deterministic))
      // every aggregate-list occurrence of a render must be bare or aliased
      val safe = renders.filter { g =>
        agg.aggregateExpressions.forall {
          case Alias(child, _) if child.semanticEquals(g) => true
          case ne: NamedExpression if ne.semanticEquals(g) => true
          case other => !other.exists(_.semanticEquals(g))
        }
      }
      if (safe.isEmpty) agg
      else {
        // group on the render's input instead of the rendered value
        val newGrouping = agg.groupingExpressions.map { g =>
          safe.find(g.semanticEquals) match {
            case Some(r) => rawKeyOf(r)
            case None => g
          }
        }
        // in the aggregate list, emit the raw input under a fresh alias and
        // remember how to rebuild the rendered output above
        var post = List.empty[(Attribute, Expression, String, org.apache.spark.sql.catalyst.expressions.ExprId)]
        val newAggExprs = agg.aggregateExpressions.map {
          case a @ Alias(child, name) if safe.exists(child.semanticEquals) =>
            val r = safe.find(child.semanticEquals).get
            val rawAlias = Alias(rawKeyOf(r), s"${name}_raw")()
            post ::= ((rawAlias.toAttribute, r, name, a.exprId))
            rawAlias
          case ne => ne
        }
        if (post.isEmpty) agg
        else {
          val newAgg = agg.copy(groupingExpressions = newGrouping,
            aggregateExpressions = newAggExprs)
          // render above the aggregate, keeping the ORIGINAL output ids
          val projectList = newAgg.output.map { attr =>
            post.find(_._1.semanticEquals(attr)) match {
              case Some((_, render, name, id)) =>
                Alias(render.withNewChildren(Seq(attr)), name)(exprId = id)
              case None => attr
            }
          }
          Project(projectList, newAgg)
        }
      }
  }
}
