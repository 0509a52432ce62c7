package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.variant.ParseJson
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.BooleanType

/** Cross-column CSE for the expensive JSON parse: a `Project` whose
  * columns each call a structural JSON accessor (`JSONHas`,
  * `JSONLength`, `JSONType`, ... — the q125 battery) carries one
  * `try_parse_json(doc)` subtree PER COLUMN, and Spark's codegen-level
  * subexpression elimination cannot help because variant expressions
  * are interpreted and CSE does not span separate projection columns.
  * This rule pulls every parse subtree that appears in TWO OR MORE
  * places into a child Project under a shared alias and rewrites the
  * consumers to reference it — one text parse per row, however many
  * accessors read the document. Measured on q125 (13 accessors, noop-write
  * timing): 13 parses/row → 1, entry time
  * 6.8–7.1 s → 4.7–5.8 s (~30% — the interpreted per-accessor
  * NAVIGATION trees dominate once the parse is shared; see the
  * GraftExtensions jsonFunctions cost note).
  *
  * Safety:
  *   - only `ParseJson` in TRY mode is pulled (`failOnError = false`,
  *     the only form the registry emits): unconditional evaluation of a
  *     try-parse is NULL on malformed input, so hoisting it out of a
  *     conditional branch (CASE WHEN guard) can never introduce an
  *     error the original would not have thrown. Strict-mode parse_json
  *     is left alone for exactly that reason.
  *   - only subtrees whose references resolve against the child's
  *     output are pulled — a parse over a lambda variable (inside a
  *     higher-order function body) stays put.
  *   - the rewrite survives `CollapseProject`: the pulled alias is
  *     non-cheap and multi-referenced, the exact shape CollapseProject
  *     refuses to re-inline.
  *
  * [[GraftExtensions.install]] adds it to `spark.experimental.extraOptimizations`,
  * after [[TopKPerKeyRewrite]].
  */
object DedupProjectParse extends Rule[LogicalPlan] {

  /** TRY-mode JSON parse in either surface form: the analyzer's
    * `ParseJson` node, or the `StaticInvoke(VariantExpressionEvalUtils
    * .parseJson(child, failOnError, …))` the main optimizer batches
    * rewrite it into before this rule runs (extraOptimizations are the
    * LAST batch — this is the form actually seen in practice; the
    * ParseJson case keeps the rule robust to batch reordering).
    */
  private[plans] def isTryParse(e: Expression): Boolean = e match {
    case p: ParseJson => !p.failOnError
    case si: StaticInvoke =>
      // VariantExpressionEvalUtils.parseJson(input, allowDuplicateKeys,
      // failOnError) — the TRY flag is argument index 2; index 1 is
      // allowDuplicateKeys (matching on it would hoist STRICT parses out
      // of their CASE WHEN guards, the exact hazard this rule avoids).
      si.functionName == "parseJson" &&
        si.dataType.typeName == "variant" &&
        (si.arguments.lift(2) match {
          case Some(Literal(false, BooleanType)) => true
          case _ => false
        })
    case _ => false
  }

  /** `get_json_object` joins the pullable class (r19): the scalar
    * extract family (`JSONExtractInt`/`JSONExtract`) expands each call
    * into a Coalesce whose TRY-cast legs all re-evaluate the SAME
    * `get_json_object(json, path)` — and Coalesce legs past the first
    * are conditional, so codegen-level subexpression elimination never
    * merges them: every leg re-runs the full Jackson parse per row
    * (measured: 3 parses/row per JSONExtractInt column). Hoisting is
    * safe on the same argument as try-parse: `get_json_object` never
    * raises (malformed input and absent paths read NULL in every eval
    * mode), so unconditional evaluation cannot introduce an error, and
    * the first Coalesce leg evaluates it unconditionally anyway.
    */
  private[plans] def isSharedJsonGet(e: Expression): Boolean = e match {
    case _: org.apache.spark.sql.catalyst.expressions.GetJsonObject => true
    case _ => false
  }

  private def pullable(e: Expression, child: LogicalPlan): Boolean =
    (isTryParse(e) || isSharedJsonGet(e)) && e.deterministic &&
      e.references.subsetOf(child.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case proj @ Project(list, child) =>
      // count canonicalized try-parse subtrees across ALL column trees
      val counts = mutable.LinkedHashMap.empty[Expression, (Expression, Int)]
      list.foreach(_.foreach {
        case e if pullable(e, child) =>
          val k = e.canonicalized
          counts.update(k, (e, counts.get(k).map(_._2).getOrElse(0) + 1))
        case _ =>
      })
      val shared = counts.collect {
        case (canon, (repr, n)) if n >= 2 => canon -> repr
      }
      if (shared.isEmpty) proj
      else {
        val aliases = shared.map { case (canon, repr) =>
          canon -> Alias(repr, "__graft_parse")()
        }.toMap
        val newList = list.map(_.transform {
          case e if pullable(e, child) && aliases.contains(e.canonicalized) =>
            aliases(e.canonicalized).toAttribute
        }.asInstanceOf[NamedExpression])
        Project(newList,
          Project(child.output ++ aliases.values.toSeq, child))
      }
  }
}
