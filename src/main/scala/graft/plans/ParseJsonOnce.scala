package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  Expression, GetStructField, JsonToStructs, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Parse each JSON payload once when a filter reads fields of the parse.
  *
  * `Ingest.wellFormed(Ingest.parseTransactions(raw))` filters on two parsed
  * fields. The optimizer pushes that filter below the projection that
  * parses the payload by inlining the `from_json` alias
  * (`PushPredicateThroughNonJoin`), and `OptimizeJsonExprs` prunes each
  * inlined copy to a one-field schema. The plan then parses every payload
  * three times: once per filtered field and once in full above the filter.
  * Each copy builds its own Jackson parser and tokenizes the whole record.
  *
  * This strategy matches `Project(pl, Filter(cond, child))` where `pl` holds
  * exactly one `Alias(from_json(S, payload))` with a struct schema `S` and
  * some conjuncts of `cond` read fields of `from_json(S_i, payload)` (same
  * payload, options and time zone) that exist in `S` by name and type. It
  * plans the parse once, below the filter, and rewrites those conjuncts to
  * read the fields of the full parse:
  * {{{
  * ProjectExec(pl with the alias replaced by its attribute,
  *   FilterExec(payload conjuncts over the parsed struct,
  *     ProjectExec(child.output :+ alias,
  *       planLater(Filter(other conjuncts, child)))))
  * }}}
  * Conjuncts that do not read the payload stay below the parse, so scans
  * keep their pushed filters. Anything else plans as before (`Nil`).
  *
  * Semantics: the filter reads the fields of the full parse, which is what
  * the filter over the parse says as written. Under the default
  * `spark.sql.json.enablePartialResults` a field that fails to convert
  * nulls only that field, so each field reads the same from the full parse
  * as from a one-field parse (`ParseJsonOnceSpec` checks adversarial
  * payloads with the strategy on and off). The parse now runs on every row
  * that passes the other conjuncts, so a highly selective payload filter
  * trades its cheaper pruned parses for one full parse per row.
  *
  * A strategy, not an optimizer rule: in the operator-optimization batch
  * `PushDownPredicates` would push the filter back and the two would loop,
  * and `SparkOptimizer` runs it again after partition pruning. Planning
  * runs after all of that.
  */
object ParseJsonOnce extends SparkStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(pl, Filter(cond, child)) if pl.forall(_.deterministic) && cond.deterministic =>
      pl.collect { case a @ Alias(j: JsonToStructs, _) if j.dataType.isInstanceOf[StructType] =>
        (a, j)
      } match {
        case Seq((alias, j)) =>
          val data = alias.toAttribute
          val (parsed, other) = splitConjunctivePredicates(cond)
            .map(c => c -> readParsed(c, j, data))
            .partition(_._2.isDefined)
          if (parsed.isEmpty) Nil
          else {
            val below = if (other.isEmpty) child else Filter(other.map(_._1).reduce(And), child)
            ProjectExec(pl.map(e => if (e eq alias) data else e),
              FilterExec(parsed.flatMap(_._2).reduce(And),
                ProjectExec(child.output :+ alias, planLater(below)))) :: Nil
          }
        case _ => Nil
      }
    case _ => Nil
  }

  /** `p` parses the same payload as `j`, with the same options and time
    * zone; only the schema may differ. */
  private def samePayload(p: JsonToStructs, j: JsonToStructs): Boolean =
    p.dataType.isInstanceOf[StructType] && p.copy(schema = j.schema).semanticEquals(j)

  /** `cond` with each field read of `j`'s payload turned into the same
    * field of `data` (the full parse); `None` when `cond` does not read the
    * payload, or reads it other than through a field of `j`'s schema. */
  private def readParsed(cond: Expression, j: JsonToStructs, data: Attribute): Option[Expression] = {
    val fields = data.dataType.asInstanceOf[StructType]
    val rewritten = cond.transformDown {
      case g @ GetStructField(p: JsonToStructs, ordinal, _) if samePayload(p, j) =>
        val f = p.dataType.asInstanceOf[StructType](ordinal)
        fields.indexWhere(x => x.name == f.name && x.dataType == f.dataType) match {
          case -1 => g
          case i => GetStructField(data, i, Some(f.name))
        }
    }
    def readsPayload(e: Expression) =
      e.exists { case p: JsonToStructs => samePayload(p, j); case _ => false }
    if (readsPayload(cond) && !readsPayload(rewritten)) Some(rewritten) else None
  }
}
