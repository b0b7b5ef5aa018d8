package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: the number of lanes at which two MinHash
  * signatures agree exactly — the near-dup probe's match score, in one
  * loop.
  *
  * Value contract: bit-equal to the composed
  * `aggregate(zip_with(a, b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)`
  * (`zip_with` and `aggregate` are `CodegenFallback`): lanes past the
  * shorter array and lanes where either side is null count 0, and a
  * null array on either side gives null.
  */
case class LaneAgree(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"LaneAgree requires (array<bigint>, array<bigint>), got (${l.sql}, ${r.sql})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int graftN = Math.min($a.numElements(), $b.numElements());
         |int graftAgree = 0;
         |for (int graftI = 0; graftI < graftN; graftI++) {
         |  if (!$a.isNullAt(graftI) && !$b.isNullAt(graftI)
         |      && $a.getLong(graftI) == $b.getLong(graftI)) graftAgree++;
         |}
         |${ev.value} = graftAgree;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LaneAgree =
    copy(left = newLeft, right = newRight)
}
