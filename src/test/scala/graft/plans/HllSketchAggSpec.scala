package graft.plans

import graft.SparkTestBase

import graft.operators.Sketches
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class HllSketchAggSpec extends SparkTestBase {
  import spark.implicits._

  test("hash60 ≡ portableHash60 column on ASCII and non-ASCII keys") {
    val keys = Seq("a", "hello world", "Ünïcødé ♥ テスト", "", "0", "key:42")
    val viaColumn = keys.toDF("k")
      // built-in md5 formulation, NOT the native Hash60 kernel — keeps
      // this spec's reference grounded at Spark built-ins
      .select(col("k"), conv(substring(md5(col("k")), 1, 15), 16, 10).cast("long").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      assert(HllSketchAgg.hash60(UTF8String.fromString(k)) == viaColumn(k), k)
      assert(HllSketchAgg.hash60Reference(k) == viaColumn(k), s"reference twin: $k")
    }
  }

  test("native sketch registers are bit-identical to the relational hllRegisters") {
    val p = 8
    val df = (0 until 3000).map(i => (s"g${i % 3}", s"key-${i % 700}")).toDF("g", "k")
    val native = df.groupBy("g").agg(HllSketchAgg(col("k"), p).as("sketch"))
      .select(col("g"), posexplode(col("sketch")))
      .filter(col("col") > 0)
      .select(col("g"), col("pos").cast("long").as("bucket"), col("col").as("reg"))
    val relational = Sketches.hllRegisters(df, "g", "k", p)
    assert(rows(native) == rows(relational.select(col("g"), col("bucket"), col("reg").cast("int"))))
  }

  test("merge across partitionings is stable; estimates flow through the shared path") {
    val p = 10
    val df = (0 until 5000).map(i => ("g", s"k$i")).toDF("g", "k")
    def est(d: org.apache.spark.sql.DataFrame): Double =
      Sketches.hllEstimateFromSketch(
        d.groupBy("g").agg(HllSketchAgg(col("k"), p).as("sketch")), "g", "sketch", p)
        .collect().head.getDouble(1)
    val a = est(df.repartition(1))
    val b = est(df.repartition(13))
    assert(a == b)
    // p=10 std error ≈ 3.25%; this fixed draw lands at ~7.8% (≈2.4σ) —
    // the envelope is loose, the REAL pin is relational-path equality
    val exact = 5000.0
    assert(math.abs(a - exact) / exact < 0.12, s"estimate $a vs $exact")
    // and it matches the relational path's estimate exactly
    val rel = Sketches.hllEstimate(Sketches.hllRegisters(df, "g", "k", p), "g", p)
      .collect().head.getDouble(1)
    assert(a == rel)
  }

  test("SQL surface: graft_hll_sketch_agg registers via its descriptor") {
    val (id, info, builder) = GraftExtensions.hllSketchAggDescriptor
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    val n = spark.range(100).selectExpr("CAST(id % 37 AS STRING) AS k")
      .selectExpr("size(graft_hll_sketch_agg(k, 8)) AS m")
      .collect().head.getInt(0)
    assert(n == 256)
    // p must be a literal
    intercept[Exception] {
      spark.range(10).selectExpr("CAST(id AS STRING) AS k", "CAST(id AS INT) AS p")
        .selectExpr("graft_hll_sketch_agg(k, p)").collect()
    }
  }

  test("hll_sketch_agg in an extension session resolves to Spark's built-in") {
    // a second session on the shared context, built with the extensions
    // (the shared one predates withExtensions); restore it afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally { SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark) }
    assert(ext ne spark)
    val registry = ext.sessionState.functionRegistry
    assert(registry.lookupFunction(FunctionIdentifier("hll_sketch_agg")).get.getClassName ==
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg].getName)
    assert(registry.lookupFunction(FunctionIdentifier("graft_hll_sketch_agg")).get.getClassName ==
      classOf[HllSketchAgg].getName)
    val est = ext.range(1000).selectExpr("CAST(id % 37 AS STRING) AS k")
      .selectExpr("hll_sketch_estimate(hll_sketch_agg(k)) AS n")
      .collect().head.getLong(0)
    assert(est == 37)
  }

  test("null keys are ignored; type/p validation fails analysis") {
    val withNulls = Seq(Some("a"), None, Some("b"), None).toDF("k").withColumn("g", lit("x"))
    val clean = Seq("a", "b").toDF("k").withColumn("g", lit("x"))
    def sk(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("g").agg(HllSketchAgg(col("k"), 8).as("s")).select("s").collect()
        .head.getSeq[Int](0)
    assert(sk(withNulls) == sk(clean))
    intercept[Exception](
      spark.range(3).groupBy().agg(HllSketchAgg(col("id"), 8)).collect()) // non-string
    intercept[Exception](
      Seq("a").toDF("k").groupBy().agg(HllSketchAgg(col("k"), 3)).collect()) // p too small
  }
}
