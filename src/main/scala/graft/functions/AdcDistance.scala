package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native ADC distance: Σ_j table[j][codes[j]] over a PQ code array and an
  * m×ks distance table — the product-quantization search kernel as one
  * whole-stage-codegen loop.
  *
  * Why an Expression: the HOF form (`aggregate(zip_with(codes, sequence,
  * …element_at…))`) evaluates an interpreted lambda per subspace per row —
  * measured (artifacts/BENCHCOMPARE_r3.jsonl, `ann_pq_adc_*` vs
  * `ann_brute_*`) the interpreted ADC scan LOSING to the codegen'd
  * brute-force cosine at 50k vectors (0.25 s vs 0.15 s). This fuses the m
  * lookups into a branch-light loop the JIT vectorizes, so the stored-code
  * scan beats float scanning on CPU too, not just on index size.
  *
  * Out-of-range codes (possible only on corrupted input) yield null rather
  * than throwing — consistent with the engine's bad-record contract.
  */
case class AdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  private def codesOk(dt: DataType): Boolean = dt match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }
  private def tableOk(dt: DataType): Boolean = dt match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (codesOk(left.dataType) && tableOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adc_distance expects (array<int>, array<array<double>>), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_distance"

  override def nullSafeEval(c: Any, t: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val table = t.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), table.numElements())
    var s = 0.0
    var j = 0
    while (j < m) {
      // null ELEMENTS are corrupted input too: a null code would read as 0
      // (wrong answer), a null table row would NPE — both become null
      if (codes.isNullAt(j) || table.isNullAt(j)) return null
      val row = table.getArray(j)
      val code = codes.getInt(j)
      if (code < 0 || code >= row.numElements() || row.isNullAt(code)) return null
      s += row.getDouble(code)
      j += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val row = ctx.freshName("row")
      val code = ctx.freshName("code")
      s"""
         |int $m = java.lang.Math.min($c.numElements(), $t.numElements());
         |double $s = 0.0;
         |for (int $j = 0; $j < $m && !${ev.isNull}; $j++) {
         |  if ($c.isNullAt($j) || $t.isNullAt($j)) { ${ev.isNull} = true; continue; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $t.getArray($j);
         |  int $code = $c.getInt($j);
         |  if ($code < 0 || $code >= $row.numElements() || $row.isNullAt($code)) {
         |    ${ev.isNull} = true;
         |  } else { $s += $row.getDouble($code); }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
}
