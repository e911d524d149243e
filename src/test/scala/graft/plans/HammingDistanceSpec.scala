package graft.plans

import graft.SparkTestBase
import graft.functions.HashFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class HammingDistanceSpec extends SparkTestBase {
  import spark.implicits._

  private def randHex(rng: scala.util.Random, n: Int): String =
    Seq.fill(n)("0123456789abcdef"(rng.nextInt(16))).mkString

  test("known distances via Column API (codegen path)") {
    val df = Seq(
      ("ff", "ff", 0), ("ff", "00", 8), ("00", "01", 1),
      ("ffff", "ff", 8),            // length delta pads 8 bits/byte
      ("", "", 0)
    ).toDF("a", "b", "want")
    val got = df.select(
      HammingDistance(unhex(col("a")), unhex(col("b"))).as("d"), col("want"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("agrees with the reference and the packed kernel") {
    val rng = new scala.util.Random(42)
    val pairs = Seq.fill(50)((randHex(rng, 64), randHex(rng, 64)))
    val got = pairs.toDF("a", "b")
      .select(HammingDistance(unhex(col("a")), unhex(col("b"))))
      .collect().map(_.getInt(0)).toSeq
    val reference = pairs.map { case (a, b) =>
      HashFunctions.hammingPadded(HashFunctions.hexToBinaryString(a), HashFunctions.hexToBinaryString(b))
    }
    val packed = pairs.map { case (a, b) =>
      val w = HammingKernelJoin.pack(Array(a, b))
      HammingKernelJoin.distance(w(0), w(1), w(2), w(3), w(4), w(5), w(6), w(7))
    }
    assert(got == reference && got == packed)
  }

  test("SQL registration (same descriptor GraftExtensions injects)") {
    // the shared test session already exists, so withExtensions can't
    // apply — register the identical descriptor on the live registry,
    // which is also the documented runtime-registration path
    val (ident, info, builder) = GraftExtensions.hammingDistanceDescriptor
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val r = spark.sql("SELECT hamming_distance(unhex('ff'), unhex('0f')) AS d").collect().head
    assert(r.getInt(0) == 4)
    val e = intercept[Exception](spark.sql("SELECT hamming_distance(1, 2)").collect())
    assert(e.getMessage.toLowerCase.contains("binary") || e.getMessage.contains("DATATYPE"))
  }

  test("symmetry and triangle inequality on random samples") {
    val rng = new scala.util.Random(7)
    val triples = Seq.fill(50)((randHex(rng, 16), randHex(rng, 16), randHex(rng, 16)))
    val rows = triples.toDF("a", "b", "c").select(
      HammingDistance(unhex(col("a")), unhex(col("b"))).as("ab"),
      HammingDistance(unhex(col("b")), unhex(col("a"))).as("ba"),
      HammingDistance(unhex(col("a")), unhex(col("c"))).as("ac"),
      HammingDistance(unhex(col("c")), unhex(col("b"))).as("cb")
    ).collect()
    rows.foreach { row =>
      assert(row.getInt(0) == row.getInt(1))
      assert(row.getInt(0) <= row.getInt(2) + row.getInt(3))
    }
  }
}
