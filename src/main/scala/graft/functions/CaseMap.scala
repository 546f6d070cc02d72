package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, String2StringExpression, UnaryExpression, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one case-mapping policy: every lowercase or uppercase
  * graft computes, in SQL `lower`/`upper` (via [[CaseMapRewrite]]) and
  * inside its own text expressions ([[SimHash64]],
  * [[WinnowFingerprints]], [[NormalizeText]]), goes through these two
  * helpers.
  *
  * Their bodies are the calls Spark 4.1's `lower`/`upper` make on a
  * UTF8_BINARY string with `spark.sql.icu.caseMappings.enabled` on
  * (`CollationAwareUTF8String.toLowerCase`/`toUpperCase`): an ASCII
  * byte map when every byte is ASCII, else ICU's `UCharacter` case
  * mapping of the valid-UTF-8 decoding. Same calls, so same bytes,
  * including invalid UTF-8 (replacement chars) and the one-to-many
  * mappings (`"ß"` uppers to `"SS"`). The ASCII path ignores the JVM
  * default locale; the ICU path, like Spark's, uses it.
  *
  * Why not call Spark's method: the static initializer of
  * `CollationAwareUTF8String` runs ICU title-casing over all 1,114,112
  * code points to fill a table only `initcap` reads. That costs
  * 1.4-1.5 s of one core (measured alone on a 4-core x86 box) once per
  * JVM, inside the first task that lowercases, and every concurrent
  * task that reaches `lower` waits on the class-init lock.
  */
object CaseMap {
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))
}

/** Spark's `lower` on a UTF8_BINARY string, computed by [[CaseMap.lower]]. */
case class CaseMapLower(child: Expression) extends UnaryExpression with String2StringExpression {
  override def convert(v: UTF8String): UTF8String = CaseMap.lower(v)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lower"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CaseMap.lower($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Spark's `upper` on a UTF8_BINARY string, computed by [[CaseMap.upper]]. */
case class CaseMapUpper(child: Expression) extends UnaryExpression with String2StringExpression {
  override def convert(v: UTF8String): UTF8String = CaseMap.upper(v)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_upper"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CaseMap.upper($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Optimizer rule: `Lower`/`Upper` → [[CaseMapLower]]/[[CaseMapUpper]]
  * exactly where Spark would take the ICU UTF8_BINARY branch — the
  * child is the default UTF8_BINARY string and ICU case mappings are
  * on. Everywhere else Spark's expression stays: its non-ICU branch
  * (JVM `String.toLowerCase`) and its collation-aware branches are
  * different functions. Injected by [[graft.GraftExtensions]];
  * excludable by name through `spark.sql.optimizer.excludedRules`.
  * It runs before DataSource V2 pushdown, so a V2 source that accepts
  * pushed `LOWER`/`UPPER` predicates (JDBC) no longer gets them; graft
  * reads only file sources.
  */
object CaseMapRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)) plan
    else plan.transformAllExpressionsWithPruning(_.containsPattern(UPPER_OR_LOWER)) {
      case Lower(c) if isUtf8Binary(c) => CaseMapLower(c)
      case Upper(c) if isUtf8Binary(c) => CaseMapUpper(c)
    }

  private def isUtf8Binary(e: Expression): Boolean = e.dataType match {
    case st: StringType => st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }
}
