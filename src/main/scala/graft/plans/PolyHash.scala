package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: base-31 polynomial rolling hash of a
  * full UTF-8 string (Java-String-hash style, 64-bit wraparound).
  *
  * Why an Expression and not a UDF: the fingerprint runs over every
  * document byte in the hot path of dedup pipelines; `doGenCode`
  * splices a direct static call into whole-stage codegen — no
  * boxing, no ScalaUDF closure dispatch, null handling inherited
  * from UnaryExpression. (Preference order per SURVEY §7.3:
  * built-ins > native Expression > UDF.)
  *
  * The rows-only query q29 uses it; PolyHashSpec pins values against
  * an independent reference implementation and exercises both the
  * interpreted (`eval`) and codegen paths.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"poly_hash needs a string argument, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    PolyHash.hashUTF8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHash.hashUTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  /** h = h*31 + byte over the UTF-8 bytes, 64-bit wraparound. Static
    * so generated code can call it directly. */
  def hashUTF8(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** Column-API form. */
  def poly_hash(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      PolyHash(org.apache.spark.sql.graft.ColumnBridge.expr(c)))

  val fnDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("poly_hash"),
    new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
    (exprs: Seq[Expression]) => PolyHash(exprs.head))
}

/** Session extension wiring: a builder's `.withExtensions(new
  * GraftExtensions)` (or spark.sql.extensions=graft.plans.GraftExtensions;
  * `graft.Session` installs neither) makes
  * `poly_hash(...)` available from SQL text and plans the native
  * AS-OF join operator (graft.plans.AsOfJoinPlan). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(PolyHash.fnDescriptor)
    e.injectFunction(DotProduct.fnDescriptor)
    e.injectOptimizerRule(_ => DotProduct.RewriteRule)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
