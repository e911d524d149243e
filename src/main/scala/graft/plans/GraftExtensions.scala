package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension wiring for the engine's native expressions.
  *
  * Usage:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     // or: .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  * After which `SELECT hamming_distance(unhex(a), unhex(b))` works in
  * plain SQL alongside the Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.hammingDistanceDescriptor)
    ext.injectFunction(GraftExtensions.dotProductDescriptor)
    ext.injectFunction(GraftExtensions.winnowMinsDescriptor)
    ext.injectFunction(GraftExtensions.shingleHash60Descriptor)
    ext.injectFunction(GraftExtensions.vocabTokenCountDescriptor)
    ext.injectFunction(GraftExtensions.charNgramsDescriptor)
    ext.injectFunction(GraftExtensions.nfcNormalizeDescriptor)
    ext.injectFunction(GraftExtensions.hllSketchAggDescriptor)
    ext.injectFunction(GraftExtensions.cdcBoundariesDescriptor)
    ext.injectOptimizerRule(_ => HammingRadiusBandJoin)
    ext.injectPlannerStrategy(_ => HammingKernelStrategy)
  }
}

object GraftExtensions {
  val hammingDistanceDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hamming_distance"),
    new ExpressionInfo(classOf[HammingDistance].getName, "hamming_distance"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "hamming_distance takes exactly 2 arguments")
      HammingDistance(children.head, children(1))
    }
  )

  val dotProductDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "dot_product takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    }
  )

  val winnowMinsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("winnow_mins"),
    new ExpressionInfo(classOf[WinnowMins].getName, "winnow_mins"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "winnow_mins takes exactly 2 arguments")
      WinnowMins(children.head, children(1))
    }
  )

  val shingleHash60Descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hash60"),
    new ExpressionInfo(classOf[ShingleHash60].getName, "shingle_hash60"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "shingle_hash60 takes exactly 2 arguments")
      ShingleHash60(children.head, children(1))
    }
  )

  val charNgramsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("char_ngrams"),
    new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "char_ngrams takes exactly 2 arguments")
      CharNgrams(children.head, children(1))
    }
  )

  val nfcNormalizeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nfc_normalize"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "nfc_normalize takes exactly 1 argument")
      NfcNormalize(children.head)
    }
  )

  val cdcBoundariesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cdc_boundaries"),
    new ExpressionInfo(classOf[CdcBoundaries].getName, "cdc_boundaries"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "cdc_boundaries takes exactly 3 arguments (text, w, maskBits)")
      CdcBoundaries(children.head, children(1), children(2))
    }
  )

  /** Prefixed so it does not replace Spark's built-in `hll_sketch_agg`
    * (a DataSketches binary sketch, a different function). */
  val hllSketchAggDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hll_sketch_agg"),
    new ExpressionInfo(classOf[HllSketchAgg].getName, "graft_hll_sketch_agg"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_hll_sketch_agg takes exactly 2 arguments (key, p)")
      val p = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"graft_hll_sketch_agg: p must be an integer literal, got $other")
      }
      HllSketchAgg(children.head, p)
    }
  )

  val vocabTokenCountDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vocab_token_count"),
    new ExpressionInfo(classOf[VocabTokenCount].getName, "vocab_token_count"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "vocab_token_count takes exactly 2 arguments")
      VocabTokenCount(children.head, children(1))
    }
  )
}
