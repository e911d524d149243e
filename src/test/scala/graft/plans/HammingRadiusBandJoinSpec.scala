package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HammingRadiusBandJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def withRule[T](f: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ HammingRadiusBandJoin
    try f finally spark.experimental.extraOptimizations = before
  }

  // the θ-plan reference: other suites may have attached the rule to the
  // shared session (PdqDuplicates does at radius >= 64 past the kernel cap)
  private def withoutRule[T](f: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before.filterNot(_ == HammingRadiusBandJoin)
    try f finally spark.experimental.extraOptimizations = before
  }

  private def randHex(rng: scala.util.Random, bytes: Int): String =
    Seq.fill(bytes * 2)("0123456789abcdef"(rng.nextInt(16))).mkString

  private def flipBits(rng: scala.util.Random, hex: String, nBits: Int): String = {
    val arr = hex.sliding(2, 2).map(h => Integer.parseInt(h, 16)).toArray
    var flipped = 0
    val out = arr.clone()
    while (flipped < nBits) {
      val bit = rng.nextInt(arr.length * 8)
      out(bit / 8) ^= (1 << (bit % 8)) // may re-flip: distance <= nBits
      flipped += 1
    }
    out.map(v => f"$v%02x").mkString
  }

  test("band rewrite ≡ θ-join on random corpora: radii 1..64, mixed lengths, duplicates") {
    val rng = new scala.util.Random(31)
    // clusters of near hashes (some 16-byte, some 8-byte), plus a DUPLICATE row
    val base = Seq.fill(12)(randHex(rng, if (rng.nextBoolean()) 16 else 8))
    val l0 = base.zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val l = (l0 :+ (99L, l0.head._2)).toDF("lid", "hx") // duplicate hash content
      .select($"lid", unhex($"hx").as("ha"))
    val r = base.zipWithIndex.flatMap { case (h, i) =>
      Seq(
        (1000L + i, flipBits(rng, h, rng.nextInt(4))),
        (2000L + i, randHex(rng, 16)),
        // truncated-by-1..3-bytes variants with a few prefix flips:
        // qualifying UNEQUAL-LENGTH pairs (8·Δlen + prefix bits <= k)
        // that only the multi-prefix banding can find at k >= 8
        (3000L + i, flipBits(rng, h.dropRight(2 * (1 + rng.nextInt(3))), rng.nextInt(8))))
    }.toDF("rid", "hx").select($"rid", unhex($"hx").as("hb"))
    for (k <- Seq(1, 3, 7, 8, 17, 32, 51, 64)) {
      val cond = HammingDistance($"ha", $"hb") <= k
      val want = withoutRule(l.join(r, cond).select("lid", "rid").as[(Long, Long)].collect())
        .groupBy(identity).view.mapValues(_.length).toMap
      val got = withRule(l.join(r, cond).select("lid", "rid").as[(Long, Long)].collect())
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == want, s"k=$k") // exact multiset: claim-once semantics hold
      assert(want.nonEmpty, s"k=$k corpus produced no pairs — test is vacuous")
    }
  }

  test("plan flips to a hash equi-join through k=64; k>64 and annulus predicates stay θ") {
    val l = Seq((1L, "00" * 16)).toDF("lid", "hx").select($"lid", unhex($"hx").as("ha"))
    val r = Seq((2L, "01" * 16)).toDF("rid", "hx").select($"rid", unhex($"hx").as("hb"))
    withRule {
      for (k <- Seq(3, 8, 51, 64)) {
        val p = l.join(r, HammingDistance($"ha", $"hb") <= k)
          .queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastNestedLoopJoin"), s"rule did not fire at k=$k:\n$p")
        assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"), s"no band equi-join at k=$k:\n$p")
        // one Generate per side per length-partition branch, never a
        // per-δ stack: k < 8 is the single δ0⋈δ0 branch, k >= 8 adds
        // the strictly-longer-left branch
        val wantGen = if (k < 8) 2 else 4
        assert("Generate".r.findAllIn(p).size == wantGen, s"band Generates at k=$k:\n$p")
      }
      val p65 = l.join(r, HammingDistance($"ha", $"hb") <= 65)
        .queryExecution.executedPlan.toString
      assert(p65.contains("BroadcastNestedLoopJoin"), s"k=65 wrongly rewritten:\n$p65")
      val pEq = l.join(r, HammingDistance($"ha", $"hb") === 3)
        .queryExecution.executedPlan.toString
      assert(pEq.contains("BroadcastNestedLoopJoin"), s"annulus wrongly rewritten:\n$pEq")
    }
  }

  test("PDQ-radius rewrite stays inside whole-stage codegen (no janino fallback)") {
    // fallback=false turns a 64 KB-cap janino failure into a hard error
    // instead of a silent interpreted re-walk of the band expressions —
    // the regression that made k=51 error at sf0.1 before the loop-bodied
    // HammingBandSegments/FirstEqualBand expressions
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try withRule {
      val rng = new scala.util.Random(7)
      val base = Seq.fill(40)(randHex(rng, 32)) // PDQ width: 256-bit
      val l = base.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        .toDF("lid", "hx").select($"lid", unhex($"hx").as("ha"))
      val r = base.zipWithIndex.map { case (h, i) => (1000L + i, flipBits(rng, h, 40)) }
        .toDF("rid", "hx").select($"rid", unhex($"hx").as("hb"))
      val got = l.join(r, HammingDistance($"ha", $"hb") <= 51).count()
      assert(got >= 40) // every <= 40-flip twin qualifies at k=51
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("two-level claim restores pruning at k=51: random candidates rarely reach the verify") {
    // The flat claim admits every pair with >= 1 equal ~5-bit segment
    // into the O(hash-width) distance verify — ~80% of ALL random pairs
    // at k=51 over 256-bit hashes. The hierarchical claim additionally
    // demands the collided band's wide (64-bit) quarter carry <= 12
    // differing bits, which a random pair (expected 32) essentially
    // never does. Count both admission sets on a random corpus.
    val rng = new scala.util.Random(17)
    val hashes = Array.fill(300)(Array.fill[Byte](32)(rng.nextInt(256).toByte))
    val (n, m, q) = (52, 4, 12)
    var pairs = 0L; var flat = 0L; var hier = 0L
    for (i <- hashes.indices; j <- hashes.indices; if i < j) {
      pairs += 1
      val (a, b) = (hashes(i), hashes(j))
      val bits = 256L
      if ((0 until n).exists(g => FirstEqualBand.bitsEqual(a, b, bits * g / n, bits * (g + 1) / n)))
        flat += 1
      if (HierarchicalBands.firstQualifying(a, b, n, m, q) >= 0) hier += 1
    }
    assert(flat > pairs / 2, s"flat admission should be near-total at k=51, got $flat/$pairs")
    assert(hier * 1000 < flat, s"two-level admission must prune >=1000x, got $hier vs $flat")
    // and a genuinely qualifying pair always claims: 51 flipped bits
    val t = hashes(0).clone()
    var f = 0
    while (f < 51) { val bit = f * 5 % 256; t(bit / 8) = (t(bit / 8) ^ (1 << (bit % 8))).toByte; f += 1 }
    assert(HierarchicalBands.firstQualifying(hashes(0), t, n, m, q) >= 0,
      "qualifying pair must find a qualifying band")
  }

  test("extra conjuncts ride along; null hashes never match") {
    val l = Seq((1L, Some("ab" * 16)), (2L, Some("ab" * 16)), (3L, None))
      .toDF("lid", "hx").select($"lid", unhex($"hx").as("ha"))
    val r = Seq((10L, Some("ab" * 16)), (11L, None)).toDF("rid", "hx")
      .select($"rid", unhex($"hx").as("hb"))
    val cond = HammingDistance($"ha", $"hb") <= 2 && $"lid" < 2
    val want = withoutRule(l.join(r, cond).select("lid", "rid").as[(Long, Long)].collect().toSet)
    assert(want == Set((1L, 10L)))
    assert(withRule(l.join(r, cond).select("lid", "rid").as[(Long, Long)].collect().toSet) == want)
  }

  // k = 0 arm. Trailing-zero byte vs shorter string: the length-pad
  // semantics make these DISTANCE 8, so they must NOT join under the
  // rewrite either
  private lazy val zl = Seq((1L, "ab"), (2L, "ab00"), (3L, "ff"), (4L, null)).toDF("lid", "ha")
    .select($"lid", unhex($"ha").as("ha"))
  private lazy val zr = Seq((10L, "ab"), (11L, "ab00"), (12L, "00"), (13L, null)).toDF("rid", "hb")
    .select($"rid", unhex($"hb").as("hb"))

  private def zeroJoin(cond: org.apache.spark.sql.Column) =
    zl.join(zr, cond).select("lid", "rid").as[(Long, Long)].collect().toSet

  test("k = 0 arm preserves results exactly: pads, nulls, =0 / <=0 / <1 forms") {
    val want = Set((1L, 10L), (2L, 11L))
    for (cond <- Seq(
      HammingDistance($"ha", $"hb") === 0,
      HammingDistance($"ha", $"hb") <= 0,
      HammingDistance($"ha", $"hb") < 1,
      lit(0) === HammingDistance($"ha", $"hb"))) {
      assert(withoutRule(zeroJoin(cond)) == want, s"without rule: $cond")
      assert(withRule(zeroJoin(cond)) == want, s"with rule: $cond")
    }
  }

  test("k = 0 arm flips the plan to a hash join; radius 2 takes the band arm") {
    def planOf(cond: org.apache.spark.sql.Column): String =
      zl.join(zr, cond).queryExecution.executedPlan.toString
    withRule {
      val p = planOf(HammingDistance($"ha", $"hb") === 0)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"rule did not fire:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"no hash join:\n$p")
      assert(!p.contains("hamming_band_segments"), s"radius 0 took the band arm:\n$p")
      // a genuine radius predicate must not be rewritten to equality:
      // it takes the band arm, whose verify keeps the distance test
      val p2 = planOf(HammingDistance($"ha", $"hb") <= 2)
      assert(p2.contains("hamming_band_segments") && p2.contains("hamming_distance"),
        s"radius-2 was not band-rewritten:\n$p2")
      // radius-8 result stays correct under the rule: pads (8), ff↔00
      // (8), ab↔00 (5), ff↔ab (3) all qualify
      assert(zeroJoin(HammingDistance($"ha", $"hb") <= 8) ==
        Set((1L, 10L), (2L, 11L), (1L, 11L), (2L, 10L), (3L, 12L), (1L, 12L), (3L, 10L)))
    }
  }
}
