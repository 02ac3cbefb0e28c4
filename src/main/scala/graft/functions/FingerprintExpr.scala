package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for the slow-log fingerprint — the
 * codegen'd replacement for `SlowLogTable.fingerprintUdf`, adopted when
 * the SURVEY §7.4 ingest profile measured the UDF at 31% of ingest wall
 * time (SCALE.md §9; the ledger's lift threshold was 30%). The
 * normalization itself is the same
 * [[graft.slowlog.Fingerprint.fingerprint]] scalar (pure JVM, regex-free
 * hot path); what the Expression removes is the ScalaUDF boundary —
 * per-row catalyst↔Scala converters, closure invocation, and the
 * codegen fence a UDF puts through the projection — by compiling to a
 * direct static call inside whole-stage codegen.
 *
 * Semantics: identical output to the UDF path for every input
 * (spec-proven over the golden fixture corpus), null → null.
 */
case class FingerprintExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fingerprint expects a string input, got $t")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "fingerprint"

  override def nullSafeEval(q: Any): Any =
    graft.slowlog.Fingerprint.fingerprintUtf8(q.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.slowlog.Fingerprint.fingerprintUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
