package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Synthesize a LARGER scale factor from an existing testdata dir by
  * unioning id-shifted copies of the big tables — the soak harness for
  * re-asserting plan shapes and hash-stability above the driver's
  * sf0.1 (AQE can flip join strategies with scale; a shape that only
  * holds at small inputs is a latent 100 TB bug).
  *
  * Copy i shifts every primary id by i·N and perturbs document text
  * with a copy marker, so the dedup tiers see realistic NEAR-duplicate
  * growth instead of a quadratic exact-duplicate explosion; events
  * keep their user ids (more events per user, the realistic direction)
  * and embeddings keep their vectors (duplicate vectors under distinct
  * ids — tie-break territory the operators must order deterministically).
  * Small dimension tables copy verbatim.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = graft.GraftSession.builder()
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    def scaled(name: String, idCol: String, perturb: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(name)
      val n = base.count()
      val union = (0 until factor).map { i =>
        perturb(base.withColumn(idCol, col(idCol) + lit(i * n)), i)
      }.reduce(_ unionByName _)
      write(union, name)
      println(s"[scaleup] $name: $n -> ${n * factor}")
    }

    scaled("documents", "doc_id", (df, i) =>
      if (i == 0) df
      else df.withColumn("text", concat(col("text"), lit(s" soak variant $i"))))
    scaled("events", "event_id", (df, _) => df)
    scaled("embeddings", "vec_id", (df, _) => df)

    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
      write(read(t), t)
    println("SCALEUP_DONE")
    spark.stop()
  }
}
