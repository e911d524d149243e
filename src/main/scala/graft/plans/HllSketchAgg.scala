package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog register sketch as a NATIVE Catalyst aggregate — the
  * one-pass form of [[graft.operators.Sketches.hllRegisters]].
  *
  * The relational form shuffles a (group, bucket, reg) relation —
  * correct and map-side combinable, but up to 2^p rows per group cross
  * the exchange. This aggregate keeps the whole register file as its
  * buffer (2^p BYTES), so the partial-aggregate exchange carries ONE
  * row per (partition, group) and merge is an elementwise max — at
  * 100 TB the distinct-count pass ships kilobytes per group instead of
  * register rows. Same trade as Spark's own approx_count_distinct,
  * except every draw here is the engine's content-addressed md5 hash:
  * the register file is BIT-IDENTICAL to [[graft.operators.Sketches
  * .hllRegisters]] (spec-pinned), so sketches from either path merge
  * together and the DuckDB oracle replays them.
  *
  * eval returns the full register array (`array<int>`, length 2^p;
  * 0 = bucket never hit — present buckets always have reg >= 1, so 0
  * is unambiguous). Feed estimates through
  * [[graft.operators.Sketches.hllEstimateFromSketch]], which explodes
  * back to the relational form and reuses the one estimate
  * implementation.
  *
  * Registered as `graft_hll_sketch_agg(key, p)` by [[GraftExtensions]]; `p`
  * must be a foldable integer in [4, 20].
  */
case class HllSketchAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private def m = 1 << p
  private def maxRho = 61 - p

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hll_sketch_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (p < 4 || p > 20)
      TypeCheckResult.TypeCheckFailure(s"graft_hll_sketch_agg: p must be in [4, 20], got $p")
    else if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_hll_sketch_agg requires a string key (cast upstream), got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = HllSketchAgg.hash60(v.asInstanceOf[UTF8String])
      val bucket = (h % m).toInt
      val rem = h / m
      val rho = maxRho - (if (rem == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(rem))
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < buf.length) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(Array.tabulate(buf.length)(i => buf(i).toInt))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = newChildren.head)
}

object HllSketchAgg {
  /** Column-API entry point (aggregate position):
    * `df.groupBy(g).agg(HllSketchAgg(col(k), 10).as("sketch"))`. */
  def apply(key: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.Bridge.toColumn(
      HllSketchAgg(org.apache.spark.sql.graftbridge.Bridge.toExpression(key), p)
        .toAggregateExpression())

  /** JVM twin of [[graft.functions.TextFunctions.portableHash60]]:
    * first 15 hex chars of md5 of the UTF-8 string, as a 60-bit long.
    * MessageDigest is not thread-safe and not serializable — one
    * instance per thread. */
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  def hash60(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // 15 hex chars = 7.5 bytes: bytes 0..6 fully, high nibble of byte 7
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Hex-string reference of [[hash60]]'s input — test hook. */
  def hash60Reference(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => s"${hexChars((b >> 4) & 0xf)}${hexChars(b & 0xf)}").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
}
