package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class HammingKernelJoinSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def probes(hs: Seq[String]) = hs.toDF("phash")

  private def hexOf(ws: Seq[Long]): String = ws.map(w => f"$w%016x").mkString

  private def dist(a: String, b: String): Int =
    (BigInt(a, 16) ^ BigInt(b, 16)).bitCount

  test("kernel join ≡ brute-force popcount on random 256-bit hashes") {
    val rnd = new scala.util.Random(47)
    def random() = hexOf(Seq.fill(4)(rnd.nextLong()))
    // skewed: every bit past the first word is zero, so all such hashes
    // crowd within 64 bits of each other
    def zeroTail() = hexOf(rnd.nextLong() +: Seq.fill(3)(0L))
    def flip(h: String, bits: Int) = {
      val v = (0 until bits).foldLeft(BigInt(h, 16))((acc, _) => acc.flipBit(rnd.nextInt(256)))
      f"$v%064x"
    }
    val base = Seq.fill(30)(random()) ++ Seq.fill(10)(zeroTail()) :+ ("0" * 64) :+ ("f" * 64)
    val near = base.take(12).zipWithIndex.map { case (h, i) => flip(h, i * 5) }
    val corpus = (base ++ near).distinct
    // probes repeat hashes: every row comes back with its own matches
    val probeRows = base.take(20) ++ base.take(5) ++ Seq.fill(10)(random()) ++ Seq.fill(5)(zeroTail())
    for (md <- Seq(0, 1, 7, 51, 63, 64, 256)) {
      val got = HammingKernelJoin.join(probes(probeRows), corpus.toArray, md)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
      val want = (for {
        p <- probeRows; c <- corpus
        d = dist(p, c) if d <= md
      } yield (p, c, d)).sorted
      assert(got == want, s"maxDist=$md")
    }
  }

  test("plans as its own Exec node; schema and caps validated") {
    val zero = "0" * 64
    val df = HammingKernelJoin.join(probes(Seq(zero, zero)), Array(zero, "0" * 63 + "7"), 16)
    val plan = df.queryExecution.executedPlan
    // SparkPlan.nodeName strips the "Exec" suffix; EXPLAIN shows the radius
    // and the corpus size
    assert(plan.toString.contains("HammingKernelJoin maxDist=16, corpus=2"), plan.toString)
    assert(!plan.toString.contains("!HammingKernelJoin"), "invalid-plan marker on the Exec node:\n" + plan)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("phash", "string"), ("chash", "string"), ("dist", "int")))
    assert(df.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted ==
      Seq((zero, zero, 0), (zero, zero, 0), (zero, "0" * 63 + "7", 3), (zero, "0" * 63 + "7", 3)))
    val exec = collectFirst(df.queryExecution.executedPlan) { case e: HammingKernelJoinExec => e }
    assert(exec.exists(_.metrics("numOutputRows").value == 4), "numOutputRows not reported")
    intercept[IllegalArgumentException](HammingKernelJoin.join(probes(Seq(zero)), Array(zero), 300))
    intercept[IllegalArgumentException](HammingKernelJoin.join(probes(Seq(zero)), Array("abc"), 8))
    intercept[IllegalArgumentException](
      HammingKernelJoin.join(Seq(1L).toDF("phash"), Array(zero), 8))
  }

  test("composes with downstream relational ops (filter/agg over the node)") {
    val hs = Seq("0" * 64, "0" * 63 + "1", "f" * 64)
    val agg = HammingKernelJoin.join(probes(hs), hs.toArray, 2)
      .filter(col("phash") < col("chash"))
      .groupBy("phash").agg(count(lit(1)).as("n"), min("dist").as("d"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(agg == Map(("0" * 64) -> ((1L, 1))))
  }
}
