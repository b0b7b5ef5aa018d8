package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.functions.DedupOps

/** Native Catalyst expression: the LSH band keys of a MinHash signature
  * as one `array<bigint>`, key b at position b — so `posexplode` yields
  * the (band, key) rows of [[DedupOps.bandKeys]]' structs.
  *
  * Value contract: key b = fold((acc·131 + sig[b·bandSize + j]) % P,
  * acc₀ = 0, j = 0 until bandSize) over `numHashes / bandSize` bands,
  * bit-equal to the composed [[DedupOps.bandKeys]] (an `aggregate` in a
  * `transform`, both `CodegenFallback`) for a signature of at least
  * `numHashes` non-null lanes — what [[TokenMinHash]] emits. A null
  * signature gives null.
  */
case class BandKeys(
    child: Expression,
    numHashes: Int = DedupOps.NumHashes,
    bandSize: Int = DedupOps.BandSize) extends UnaryExpression {

  private val numBands = numHashes / bandSize

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"BandKeys requires array<bigint>, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val sig  = input.asInstanceOf[ArrayData]
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = 0L
      var j = 0
      while (j < bandSize) {
        acc = (acc * 131L + sig.getLong(b * bandSize + j)) % DedupOps.P
        j += 1
      }
      keys(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |long[] graftKeys = new long[$numBands];
         |for (int graftB = 0; graftB < $numBands; graftB++) {
         |  long graftAcc = 0L;
         |  for (int graftJ = 0; graftJ < $bandSize; graftJ++) {
         |    graftAcc = (graftAcc * 131L + $s.getLong(graftB * $bandSize + graftJ)) % ${DedupOps.P}L;
         |  }
         |  graftKeys[graftB] = graftAcc;
         |}
         |${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(graftKeys);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
}
