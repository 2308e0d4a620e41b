package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression for the exact quantized dot product of two
  * float vectors: sum_i floor(a_i * 1e7) * floor(b_i * 1e7) as a BIGINT.
  *
  * Semantically identical to the higher-order-function formulation in
  * [[graft.sim.Similarity]] (`aggregate(zip_with(a, b, (x, y) ->
  * floor(x*1e7)*floor(y*1e7)), 0L, +)`) — the DuckDB oracle keeps
  * verifying that form — but computed as one tight JVM loop per row
  * instead of ~64 interpreted lambda frames and an intermediate array.
  * The norm is `sqrt(qdot(a, a))`: the self-product squares each
  * quantized component, so no separate expression is needed.
  *
  * Determinism: float→double widening, the 1e7 multiply, and floor are
  * identical IEEE operations in every engine; products of |q|<1e7 sum
  * over 64 dims to <1e16 — no 64-bit overflow (Similarity's analysis).
  */
case class QDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"qdot requires (array<float>, array<float>), got $other")
  }

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.QDot.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QDot =
    copy(left = newLeft, right = newRight)
}

object QDot {
  /** Exact quantized dot product. Embedding columns are fixed-width and
    * non-null; ragged or null-element input is refused LOUDLY (the HOF
    * twin would return NULL there — a primitive-long codegen expression
    * cannot, and silently summing a truncated/zero-filled vector would
    * diverge from the oracle without any signal). */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"qdot requires equal-length vectors, got $n and ${b.numElements()}")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) throw new IllegalArgumentException(
        s"qdot requires non-null components, found null at index $i")
      val qa = math.floor(a.getFloat(i).toDouble * 1e7).toLong
      val qb = math.floor(b.getFloat(i).toDouble * 1e7).toLong
      acc += qa * qb
      i += 1
    }
    acc
  }

  /** JVM twin of the grid for driver- or group-side kernels: floor(x·1e7)
    * as long, per component. */
  def quantize(v: Array[Float]): Array[Long] = {
    val q = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { q(i) = math.floor(v(i).toDouble * 1e7).toLong; i += 1 }
    q
  }

  /** Exact dot product of two already-quantized vectors. */
  def dot(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Column wrapper over named input columns (dots resolve qualifiers). */
  def of(aCol: String, bCol: String): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      QDot(UnresolvedAttribute(aCol), UnresolvedAttribute(bCol)))

  /** The grid norm sqrt(qdot(a, a)) as a double. */
  def norm(aCol: String): Column = sqrt(of(aCol, aCol).cast("double"))

  /** The grid cosine qdot(a, b) / (‖a‖·‖b‖): one fixed IEEE expression
    * tree, which every cosine in `sim/` and `text/` spells this way so
    * that all of them agree bit for bit with each other and with the
    * oracles. Callers that precompute the norms pass them in. */
  def cosine(aCol: String, bCol: String,
             normA: Column, normB: Column): Column =
    of(aCol, bCol).cast("double") / (normA * normB)

  def cosine(aCol: String, bCol: String): Column =
    cosine(aCol, bCol, norm(aCol), norm(bCol))
}
