package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact membership probe of an array<string> against a broadcast string
  * set: true when any element is in the set. The probe side of a "small
  * next to the corpus" semi-join, run as a per-row loop instead — the set
  * ships once per executor as a broadcast variable, each row's elements
  * are looked up (UTF8String hash, then byte equality) until the first
  * hit, and the corpus side stays map-only with no join and no exchange.
  * The exact counterpart of [[BloomMightContain]]: no false positives.
  *
  * Null input → null; null elements never match.
  */
case class AnyInSet(child: Expression, set: Broadcast[java.util.HashSet[UTF8String]])
    extends SketchCodegen {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"any_in_set expects array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    val arr = input.asInstanceOf[ArrayData]
    val members = set.value
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && members.contains(arr.getUTF8String(i))) return java.lang.Boolean.TRUE
      i += 1
    }
    java.lang.Boolean.FALSE
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "any_in_set"
}

object AnyInSet {
  def anyInSet(v: Column, set: Broadcast[java.util.HashSet[UTF8String]]): Column =
    GraftSqlBridge.column(AnyInSet(GraftSqlBridge.expression(v), set))
}
