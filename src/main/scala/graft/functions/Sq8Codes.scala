package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native SQ8 quantizer: L2-normalize the vector and affine-map each
  * component from [-1, 1] to an integer code in [0, 255] —
  * `floor((x / ‖v‖ + 1) / 2 * 255 + 0.5)` — in ONE fused loop (norm
  * pass + quantize pass) inside the scan projection.
  *
  * Bit-identical to the higher-order formulation it replaces (kept in
  * SimilaritySpec as the executable spec): same
  * float→double promotion, same IEEE operation order, same
  * `math.floor(·).toLong` conversion (NaN → 0, matching Spark's
  * non-ANSI double→long cast for the zero-vector edge callers are told
  * to exclude). The quantization pass runs once over the FULL corpus in
  * any quantized-ANN pipeline, so it earns the same native-kernel
  * treatment as the other per-row signature computations
  * (simhash64/minhash_sigs/shingle_hashes/tf_vector). */
case class Sq8Codes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sq8_codes expects array<float|double>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    Sq8Codes.compute(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val helper = Sq8Codes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$helper.compute($a, $isFloat);"
    })

  override protected def withNewChildInternal(c: Expression): Sq8Codes = copy(child = c)
  override def prettyName: String = "sq8_codes"
}

object Sq8Codes {

  /** Norm pass then quantize pass. A null ELEMENT nulls every code:
    * the executable-spec form computes the norm via `vec_dot`, which is
    * null on any null element, and null poisons each lambda result —
    * the kernel must match that exactly. Called from both interpreted
    * eval and generated code. */
  def compute(arr: ArrayData, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    var sum = 0.0
    var i = 0
    var anyNull = false
    while (i < n) {
      if (arr.isNullAt(i)) anyNull = true
      else {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        sum += x * x
      }
      i += 1
    }
    if (anyNull) return new GenericArrayData(Array.fill[Any](n)(null))
    val nrm = math.sqrt(sum)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      out(i) = math.floor((x / nrm + 1) / 2 * 255 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def codes(vec: Column): Column =
    ColumnBridge.column(Sq8Codes(ColumnBridge.expression(vec)))

  val descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
    org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
    Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("sq8_codes"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[Sq8Codes].getName, "sq8_codes"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "sq8_codes(vec) takes 1 argument")
      Sq8Codes(children.head)
    })
}
