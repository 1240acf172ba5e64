package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnaryExpression, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `lower`/`upper` on a UTF8_BINARY string with Spark's ICU case
  * mappings (`spark.sql.icu.caseMappings.enabled`, the default), minus
  * the cold-JVM cost of reaching them.
  *
  * Spark's `Lower`/`Upper` route every row through
  * `CollationAwareUTF8String.toLowerCase/toUpperCase`, which return the
  * ASCII conversion for a full-ASCII string and the ICU full case
  * mapping otherwise. Merely calling into that class runs its static
  * initializer, which builds a title-case table over all 1,114,112 code
  * points (1.3–1.8 s on one task thread, while the stage's other tasks
  * wait on the class-init lock) — on the first row, ASCII or not. This
  * expression makes the same ASCII test itself and only calls Spark's
  * ICU entry point (`CollationSupport.Lower/Upper.execBinaryICU`) for a
  * non-ASCII string, so results are bit-identical for every input and
  * the table is built only when non-ASCII text actually arrives.
  *
  * It renders as `lower`/`upper` (or the `lcase`/`ucase` alias the
  * query used), so SQL text, generated names and plan text are those
  * of the expression it replaces. Installed by [[CaseMappingRule]].
  */
case class AsciiFastCase(child: Expression, upper: Boolean) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def contextIndependentFoldable: Boolean = child.contextIndependentFoldable

  override def prettyName: String = getTagValue(FunctionRegistry.FUNC_ALIAS)
    .getOrElse(if (upper) "upper" else "lower")
  // plan text shows `lower(x#1)`, as Spark's Lower does, not `lower(x#1, false)`
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(s: Any): Any =
    if (upper) AsciiFastCase.toUpper(s.asInstanceOf[UTF8String])
    else AsciiFastCase.toLower(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.AsciiFastCase.${if (upper) "toUpper" else "toLower"}($c)")

  override protected def withNewChildInternal(newChild: Expression): AsciiFastCase =
    copy(child = newChild)
}

object AsciiFastCase {
  def toLower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii else CollationSupport.Lower.execBinaryICU(s)

  def toUpper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii else CollationSupport.Upper.execBinaryICU(s)
}

/** Rewrites Spark's `Lower`/`Upper` into [[AsciiFastCase]] wherever the
  * result is Spark's ICU mapping of a UTF8_BINARY string: ICU case
  * mappings on, child a UTF8_BINARY `StringType`. Collated strings and
  * the non-ICU path (JVM default-locale `String.toLowerCase`) are left to
  * Spark. Every expression of the plan is visited: subqueries, HOF
  * lambda bodies and streaming plans included.
  *
  * Runs as a post-hoc resolution rule ([[GraftExtensions]]), so constant
  * folding already sees the fast path. It also applies Spark's
  * `SimplifyCaseConversionExpressions` (`upper(lower(x))` → `upper(x)`
  * and the like), which no longer sees these nodes: without it,
  * `upper(lower('İ'))` would map the two-code-point `i̇` where Spark maps
  * `İ` itself. [[GraftRuntime.ensure]] adds it as an extra optimizer rule
  * on a host session built without the extensions; there it runs after
  * Spark's constant folding.
  */
object CaseMappingRule extends Rule[LogicalPlan] {

  private def utf8Binary(e: Expression): Boolean = e.resolved && (e.dataType match {
    case st: StringType => st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  })

  // the outer mapping decides: upper(lower(x)) is upper(x). Bottom-up, an
  // inner case mapping has already become an AsciiFastCase
  private def uncased(e: Expression): Expression = e match {
    case AsciiFastCase(c, _) => c
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)) plan
    else plan.transformUpWithSubqueries { case p =>
      p.transformExpressionsUpWithPruning(_.containsPattern(UPPER_OR_LOWER)) {
        // the transform carries the replaced node's tags, FUNC_ALIAS included
        case Lower(c) if utf8Binary(c) => AsciiFastCase(uncased(c), upper = false)
        case Upper(c) if utf8Binary(c) => AsciiFastCase(uncased(c), upper = true)
      }
    }
}
