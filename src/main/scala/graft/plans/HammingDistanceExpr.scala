package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Native Catalyst expression: bitwise Hamming distance between two
  * `BinaryType` values. Bit mismatches are counted over the common
  * byte prefix; a length delta contributes 8 bits per missing byte —
  * the packed-byte analogue of the reference's pad-semantics kernel
  * (`cir_duplicate_detector/pdq_dup_detect_algorithms/utils.py:90-105`,
  * which pads in the per-BIT string domain).
  *
  * Whole-stage-codegen'd (`doGenCode` emits a call to a tight static
  * byte loop with `Integer.bitCount`): no boxing, no interpreted
  * lambda. Row-level PDQ distances use it over
  * `unhex(canonicalHex64(h))`; all-pairs joins against a small corpus
  * use the packed broadcast kernel, [[HammingKernelJoin]].
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_distance requires (binary, binary), got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_distance"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    HammingDistance.distance(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.HammingDistance.distance($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** Byte-array Hamming with bit-granular pad semantics. Public static
    * so generated code can call it (keeps the codegen template tiny and
    * JIT-friendly — the JVM inlines it). */
  def distance(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var d = math.abs(a.length - b.length) * 8
    var i = 0
    // whole longs via ByteBuffer-free manual packing would complicate
    // alignment; Integer.bitCount on bytes is branch-free and the JIT
    // vectorizes the loop
    while (i < n) {
      d += Integer.bitCount((a(i) ^ b(i)) & 0xff)
      i += 1
    }
    d
  }

  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    Bridge.toColumn(HammingDistance(Bridge.toExpression(a), Bridge.toExpression(b)))
}
