package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

import graft.functions.DedupOps

/** Native Catalyst expression: the MinHash signature of a token array's
  * word-trigram shingles in ONE loop — the near-dup index's
  * `minhash(shinglesOfTokens(tokens))`, with no shingle array built.
  *
  * Value contract: bit-equal to the composed
  * [[DedupOps.minhash]]`(`[[DedupOps.shinglesOfTokens]]`(tokens))`
  * (PlanSpec equivalence gate), which stays the reference spelling with
  * its DuckDB twins:
  *  - shingle i = ((t_i·131 + t_{i+1})·131 + t_{i+2}) % P with Java `%`
  *    (a negative token keeps its sign);
  *  - a null token nulls the three shingles that touch it, and a null
  *    shingle takes part in no lane's minimum;
  *  - lane k = min over shingles of (s·A_k + k²+7) % P, A_k = ((2k+1)·M) % P,
  *    or P when no shingle is left — so fewer than 3 tokens, or a null
  *    array, give P on every lane and the result is never null.
  *
  * [[ShingleHash]] → [[MinHashSig]] is NOT this: ShingleHash maps a null
  * token to 0 where the composed chain drops the shingle.
  *
  * The composed chain is a `transform` inside a `transform`, both
  * `CodegenFallback`, and re-evaluates the whole shingle lambda once per
  * lane; this expression compiles into the stage's generated code.
  */
case class TokenMinHash(child: Expression, numHashes: Int = DedupOps.NumHashes)
    extends UnaryExpression {

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"TokenMinHash requires array<int> tokens, got ${other.sql}")
  }

  @transient private lazy val lanes = TokenMinHash.lanes(numHashes)

  override def eval(input: InternalRow): Any = {
    val mins = Array.fill(numHashes)(DedupOps.P)
    val toks = child.eval(input).asInstanceOf[ArrayData]
    if (toks != null) {
      val (a, c) = lanes
      var i = 0
      while (i + 2 < toks.numElements()) {
        if (!toks.isNullAt(i) && !toks.isNullAt(i + 1) && !toks.isNullAt(i + 2)) {
          val s = ((toks.getInt(i).toLong * 131L + toks.getInt(i + 1)) * 131L +
            toks.getInt(i + 2)) % DedupOps.P
          var k = 0
          while (k < numHashes) {
            val h = (s * a(k) + c(k)) % DedupOps.P
            if (h < mins(k)) mins(k) = h
            k += 1
          }
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val a = ctx.addReferenceObj("graftLaneA", lanes._1, "long[]")
    val c = ctx.addReferenceObj("graftLaneC", lanes._2, "long[]")
    val P = DedupOps.P
    ev.copy(code = code"""
      |${t.code}
      |long[] ${ev.value}Mins = new long[$numHashes];
      |java.util.Arrays.fill(${ev.value}Mins, ${P}L);
      |if (!${t.isNull}) {
      |  int graftN = ${t.value}.numElements();
      |  for (int graftI = 0; graftI + 2 < graftN; graftI++) {
      |    if (!${t.value}.isNullAt(graftI) && !${t.value}.isNullAt(graftI + 1)
      |        && !${t.value}.isNullAt(graftI + 2)) {
      |      long graftS = (((long) ${t.value}.getInt(graftI) * 131L
      |        + ${t.value}.getInt(graftI + 1)) * 131L + ${t.value}.getInt(graftI + 2)) % ${P}L;
      |      for (int graftK = 0; graftK < $numHashes; graftK++) {
      |        long graftH = (graftS * $a[graftK] + $c[graftK]) % ${P}L;
      |        if (graftH < ${ev.value}Mins[graftK]) ${ev.value}Mins[graftK] = graftH;
      |      }
      |    }
      |  }
      |}
      |${classOf[ArrayData].getName} ${ev.value} =
      |  ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(${ev.value}Mins);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenMinHash =
    copy(child = newChild)
}

object TokenMinHash {
  /** Lane constants (A_k, k²+7), exactly as [[DedupOps.minhash]] derives
    * them from the lane index. */
  private[plans] def lanes(numHashes: Int): (Array[Long], Array[Long]) =
    (Array.tabulate(numHashes)(k => (k * 2L + 1L) * DedupOps.M % DedupOps.P),
      Array.tabulate(numHashes)(k => (k * k).toLong + 7L))
}
