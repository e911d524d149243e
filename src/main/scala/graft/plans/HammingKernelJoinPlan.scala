package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The broadcast Hamming kernel as a plan node — the reference's naive
  * backend (`naive_duplicate_detector.py:67`: every worker holds the
  * whole hash series and scans it with a popcount loop) as a custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`, so EXPLAIN shows it.
  *
  * Semantics: the child streams canonical 64-char hex hashes (`phash`);
  * every (phash, chash) pair within Hamming distance `maxDist` of a
  * KERNEL-SIZED corpus comes out as (phash, chash, dist). The Spark
  * driver packs the corpus to 4 longs per hash (~32 B/hash, no row
  * objects) and broadcasts it once, when the plan is built; each probe
  * then costs one XOR+popcount pass over the packed array. Matches are
  * rare, so the hex of a matching corpus hash is rebuilt from its words
  * on the executor instead of broadcasting the strings too.
  *
  * Planning: [[HammingKernelStrategy]] maps the logical node 1:1 to
  * [[HammingKernelJoinExec]]; registered via `SparkSessionExtensions`
  * (GraftExtensions) and, for ad-hoc sessions, injected idempotently by
  * [[HammingKernelJoin.join]] through `spark.experimental.extraStrategies`.
  */
case class HammingKernelJoinPlan(
    maxDist: Int,
    corpusSize: Int,
    corpus: Broadcast[Array[Long]],
    produced: Seq[Attribute],
    child: LogicalPlan
) extends UnaryNode {
  // `produced` rides as a constructor value so copies keep the attribute
  // ids — regenerating them per copy would orphan parent references
  override def output: Seq[Attribute] = child.output ++ produced

  // the pair attributes are generated here, not forwarded from the child
  override def producedAttributes: AttributeSet = AttributeSet(produced)

  // the node reads the child's hash column positionally although no
  // expression names it; without declaring it, ColumnPruning may prune
  // it away
  override def references: AttributeSet = child.outputSet

  override protected def stringArgs: Iterator[Any] =
    Iterator(s"maxDist=$maxDist", s"corpus=$corpusSize")

  override protected def withNewChildInternal(newChild: LogicalPlan): HammingKernelJoinPlan =
    copy(child = newChild)
}

/** Physical node: streams the child's hashes past the broadcast corpus. */
case class HammingKernelJoinExec(
    maxDist: Int,
    corpusSize: Int,
    corpus: Broadcast[Array[Long]],
    produced: Seq[Attribute],
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ produced

  override def producedAttributes: AttributeSet = AttributeSet(produced)

  // a probe's matches stay in its partition, next to its own phash
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def stringArgs: Iterator[Any] =
    Iterator(s"maxDist=$maxDist", s"corpus=$corpusSize")

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val bc = corpus
    val md = maxDist
    child.execute().mapPartitions(probes =>
      new HammingKernelJoin.Matches(probes, bc.value, md, numOutputRows))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): HammingKernelJoinExec =
    copy(child = newChild)
}

object HammingKernelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case HammingKernelJoinPlan(d, n, bc, produced, child) =>
      HammingKernelJoinExec(d, n, bc, produced, planLater(child)) :: Nil
    case _ => Nil
  }
}

object HammingKernelJoin {

  /** Longs per packed 256-bit hash. */
  final val WordsPerHash = 4

  /** Word `k` (0 to 3, big-endian) of a canonical 64-char hex hash. */
  def word(hex64: String, k: Int): Long =
    java.lang.Long.parseUnsignedLong(hex64.substring(k * 16, k * 16 + 16), 16)

  /** Canonical 64-char hex hashes packed as [[WordsPerHash]] longs each. */
  def pack(hashes: Array[String]): Array[Long] = {
    hashes.foreach(h => require(h != null && h.length == 64,
      s"kernel corpus hashes must be canonical 64-char hex, got $h"))
    Array.tabulate(hashes.length * WordsPerHash)(k => word(hashes(k / WordsPerHash), k % WordsPerHash))
  }

  /** Hamming distance between two packed hashes. */
  def distance(a0: Long, a1: Long, a2: Long, a3: Long, b0: Long, b1: Long, b2: Long, b3: Long): Int =
    java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1) +
      java.lang.Long.bitCount(a2 ^ b2) + java.lang.Long.bitCount(a3 ^ b3)

  /** Canonical hex of the packed hash starting at `packed(base)`. */
  def hex(packed: Array[Long], base: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    var w = 0
    while (w < WordsPerHash) {
      val s = java.lang.Long.toHexString(packed(base + w))
      var pad = 16 - s.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(s)
      w += 1
    }
    sb.toString
  }

  /** (phash, chash, dist) for every canonical 64-char hex `phash` of
    * `probes` within `maxDist` of a hash in `corpus` (canonical 64-char
    * hex, distinct, small enough to broadcast — the caller caps it). */
  def join(probes: DataFrame, corpus: Array[String], maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 256, s"maxDist must be in [0, 256], got $maxDist")
    val p = probes.select(col("phash"))
    require(p.schema.head.dataType == StringType,
      s"phash must be a string column, got ${p.schema.head.dataType.simpleString}")
    val spark = probes.sparkSession
    if (!spark.experimental.extraStrategies.contains(HammingKernelStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ HammingKernelStrategy
    val produced = Seq(
      AttributeReference("chash", StringType, nullable = false)(),
      AttributeReference("dist", IntegerType, nullable = false)())
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, HammingKernelJoinPlan(maxDist, corpus.length,
      spark.sparkContext.broadcast(pack(corpus)), produced, p.queryExecution.analyzed))
  }

  /** One partition's output: each probe row scans the packed corpus,
    * yielding a row per match. The output row is reused per call, the
    * UnsafeProjection contract; consumers copy what they buffer. */
  private[plans] final class Matches(probes: Iterator[InternalRow], packed: Array[Long],
      maxDist: Int, numOutputRows: SQLMetric) extends Iterator[InternalRow] {
    private val n = packed.length / WordsPerHash
    private val writer = new UnsafeRowWriter(3, 128)
    private var probe: UTF8String = _
    private var p0, p1, p2, p3 = 0L
    private var pos = n // next corpus hash to compare with the probe
    private var found = -1 // corpus hash of a match not yet emitted
    private var dist = 0

    override def hasNext: Boolean = {
      while (found < 0 && (pos < n || probes.hasNext)) {
        if (pos >= n) {
          probe = probes.next().getUTF8String(0)
          val s = probe.toString
          p0 = word(s, 0); p1 = word(s, 1); p2 = word(s, 2); p3 = word(s, 3)
          pos = 0
        }
        scan()
      }
      found >= 0
    }

    /** Moves `pos` past the probe's next match, or to the corpus end.
      * The loop runs on locals: reading and writing the iterator's
      * fields per candidate made the kernel several times slower. */
    private def scan(): Unit = {
      val pk = packed
      val a0 = p0; val a1 = p1; val a2 = p2; val a3 = p3
      val md = maxDist
      val end = n
      var j = pos
      while (j < end) {
        val b = j * WordsPerHash
        val d = distance(a0, a1, a2, a3, pk(b), pk(b + 1), pk(b + 2), pk(b + 3))
        j += 1
        if (d <= md) { found = j - 1; dist = d; pos = j; return }
      }
      pos = end
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      writer.reset()
      writer.zeroOutNullBytes()
      writer.write(0, probe)
      writer.write(1, UTF8String.fromString(hex(packed, found * WordsPerHash)))
      writer.write(2, dist)
      found = -1
      numOutputRows += 1
      writer.getRow
    }
  }
}
