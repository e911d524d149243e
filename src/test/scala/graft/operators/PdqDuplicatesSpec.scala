package graft.operators

import graft.{Fixtures, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Row}

/** Ports of reference tests/unit/test_pdq_hash.py, parametrized over the
  * two physical strategies exactly as the reference's conftest
  * parametrizes naive|bk-tree (tests/conftest.py:110-112). */
class PdqDuplicatesSpec extends SparkTestBase {
  import PdqDuplicates.Strategy

  private val strategies = Seq(Strategy.Naive, Strategy.Banded)

  private def pdqOnly(rs: Seq[Row] = Fixtures.sampleRows): DataFrame =
    Fixtures.sampleData(spark, rs).select("index", "pdq_hash")

  private def run(
      rs: Seq[Row] = Fixtures.sampleRows,
      checked: Option[Seq[String]] = None,
      t: Double = Fixtures.threshold
  )(s: Strategy) = PdqDuplicates(pdqOnly(rs), checked, t, s)

  for (s <- strategies) {
    test(s"[$s] full fixture (test_pdq_hash.py:17-30)") {
      assert(rows(run()(s)) == Fixtures.expectedPdq)
    }

    test(s"[$s] null hash rows are dropped (test_pdq_hash.py:55-77)") {
      val rs = Fixtures.sampleRows.map { r =>
        if (Seq("UW0001", "UW0002", "UW0003").contains(r.getString(0)))
          Row(r.getString(0), r.getString(1), null)
        else r
      }
      val want = Seq(
        Seq("UW0004", List("UW0005", "UW0007"), List(0.98828125, 0.984375)),
        Seq("UW0005", List("UW0004"), List(0.98828125)),
        Seq("UW0007", List("UW0004"), List(0.984375))
      )
      assert(rows(run(rs)(s)) == want)
    }

    test(s"[$s] oversized hash: same membership, lower similarity (test_pdq_hash.py:126-146)") {
      val rs = Fixtures.sampleRows.map {
        case Row("UW0006", u, h: Seq[_]) =>
          Row("UW0006", u, Seq(h.head.asInstanceOf[String] + "00000000000"))
        case r => r
      }
      val got = rows(run(rs)(s)).map(r => Seq(r(0), r(1))) // duplicates column only
      val want = Fixtures.expectedPdq.map(r => Seq(r(0), r(1)))
      assert(got == want)
    }

    test(s"[$s] threshold 1.0, distinct hashes -> no duplicates (test_pdq_hash.py:149-165)") {
      val rs = Fixtures.sampleRows.drop(2)
      assert(run(rs, t = 1.0)(s).count() == 0)
    }

    test(s"[$s] threshold 1.0 still finds exact duplicates") {
      val got = rows(run(t = 1.0)(s))
      val want = Seq(
        Seq("UW0001", List("UW0002", "UW0003"), List(1.0, 1.0)),
        Seq("UW0002", List("UW0001", "UW0003"), List(1.0, 1.0)),
        Seq("UW0003", List("UW0001", "UW0002"), List(1.0, 1.0))
      )
      assert(got == want)
    }

    test(s"[$s] indexes_to_check bidirectional expansion (test_pdq_hash.py:168-206)") {
      val got = rows(run(checked = Some(Seq("UW0001", "UW0005")))(s))
      val want = Seq(
        Seq("UW0001", List("UW0002", "UW0003"), List(1.0, 1.0)),
        Seq("UW0002", List("UW0001"), List(1.0)),
        Seq("UW0003", List("UW0001"), List(1.0)),
        Seq("UW0004", List("UW0005"), List(0.98828125)),
        Seq("UW0005", List("UW0004"), List(0.98828125))
      )
      assert(got == want)
    }

    test(s"[$s] single index_to_check (test_pdq_hash.py:209-240)") {
      val got = rows(run(checked = Some(Seq("UW0001")))(s))
      val want = Seq(
        Seq("UW0001", List("UW0002", "UW0003"), List(1.0, 1.0)),
        Seq("UW0002", List("UW0001"), List(1.0)),
        Seq("UW0003", List("UW0001"), List(1.0))
      )
      assert(got == want)
    }

    test(s"[$s] empty indexes_to_check -> empty typed result (test_pdq_hash.py:243-262)") {
      val got = run(checked = Some(Nil))(s)
      assert(got.count() == 0)
      assert(got.schema == PdqDuplicates.outputSchema)
    }

    test(s"[$s] checked index with null hash (test_pdq_hash.py:265-295)") {
      val rs = Fixtures.sampleRows.map {
        case Row("UW0002", u, _) => Row("UW0002", u, null)
        case r                   => r
      }
      val got = rows(run(rs, checked = Some(Seq("UW0001", "UW0002")))(s))
      val want = Seq(
        Seq("UW0001", List("UW0003"), List(1.0)),
        Seq("UW0003", List("UW0001"), List(1.0))
      )
      assert(got == want)
    }

    test(s"[$s] empty input -> empty typed result (test_pdq_hash.py:33-52)") {
      val got = run(Nil)(s)
      assert(got.count() == 0)
      assert(got.schema == PdqDuplicates.outputSchema)
    }
  }

  test("invalid threshold raises (test_pdq_hash.py:96-115)") {
    intercept[IllegalArgumentException](run(t = -0.1)(Strategy.Naive))
    intercept[IllegalArgumentException](run(t = 1.1)(Strategy.Naive))
  }

  test("literal (index,hash) pair dedupe keeps cross duplicates (test_utils.py:57-98)") {
    // same value under another index and same index with another value
    // both survive; identical pairs collapse. Built on the exploded
    // relation — verified through the public pipeline: a row listing the
    // same hash twice must not self-match.
    val rs = Seq(Row("A", null, Seq(Fixtures.hash1, Fixtures.hash1)))
    assert(run(rs)(Strategy.Naive).count() == 0)
  }

  test("over-cap leg (kernel cap below the probe set) ≡ broadcast kernel") {
    // shrink the kernel cap below the distinct probes: Naive takes the
    // band join, which must give the kernel's result
    val kernel = rows(run()(Strategy.Naive))
    spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, "2")
    try {
      val plan = run()(Strategy.Naive).queryExecution.executedPlan.toString
      assert(!plan.contains("HammingKernelJoin"), s"over the cap, still the kernel:\n$plan")
      val overCap = rows(run()(Strategy.Naive))
      assert(overCap == kernel)
      assert(overCap == Fixtures.expectedPdq)
    } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
  }

  /** One 64-hex hash per row, `flips` bits of `base` flipped, each bit
    * at most once. */
  private def flipped(base: String, flips: Int, rng: scala.util.Random): String = {
    val bits = rng.shuffle((0 until 256).toList).take(flips)
    val v = bits.foldLeft(new java.math.BigInteger(base, 16))(_ flipBit _)
    f"${v.toString(16)}%64s".replace(' ', '0')
  }

  private def popcountDist(a: String, b: String): Int =
    new java.math.BigInteger(a, 16).xor(new java.math.BigInteger(b, 16)).bitCount

  // near-duplicate clusters at spread distances, exact duplicates under
  // several indexes, all-zero-tail hashes (the skewed band keys of black
  // frames), a row carrying two hashes, a row carrying one hash twice and
  // a row carrying two spellings of one hash (upper case, and unpadded)
  private lazy val propertyRows: Seq[(String, Seq[String])] = {
    val rng = new scala.util.Random(2024)
    def randHex = Seq.fill(64)("0123456789abcdef"(rng.nextInt(16))).mkString
    val clusters = (0 until 3).flatMap { c =>
      val base = randHex
      (base +: Seq(1, 4, 6, 7, 30, 50, 52, 63, 64, 65, 66).map(flipped(base, _, rng)))
        .zipWithIndex.map { case (h, i) => (f"c$c%d-$i%02d", Seq(h)) }
    }
    val zeroTail = Seq("ab", "ab8", "0f", "ffff", "8").map(p => p + "0" * (64 - p.length))
    val skewed = zeroTail.zipWithIndex.map { case (h, i) => (s"z$i", Seq(h)) } ++
      zeroTail.take(3).zipWithIndex.map { case (h, i) => (s"zf$i", Seq(flipped(h, 2 + i * 30, rng))) }
    val dups = Seq(("d0", Seq(clusters.head._2.head)), ("d1", Seq(clusters.head._2.head)),
      ("d2", Seq(zeroTail.head)))
    val multi = Seq(("m0", Seq(clusters(13)._2.head, flipped(zeroTail(1), 3, rng))))
    val leadingZero = "00" + clusters(24)._2.head.drop(2)
    val repeats = Seq(("r0", Seq(clusters(12)._2.head, clusters(12)._2.head)),
      ("s0", Seq(leadingZero.toUpperCase, leadingZero.dropWhile(_ == '0'))))
    clusters ++ skewed ++ dups ++ multi ++ repeats
  }

  /** (index, partner, similarity) by a plain-JVM popcount over every
    * pair: min distance per pair, self excluded, edges of a probe in
    * both directions. */
  private def bruteForce(r: Int, probes: Set[String]): Set[(String, String, Double)] =
    (for {
      (a, ha) <- propertyRows; (b, hb) <- propertyRows
      if a != b && (probes(a) || probes(b))
      d = (for (x <- ha; y <- hb) yield popcountDist(x, y)).min
      if d <= r
    } yield (a, b, 1.0 - d / 256.0)).toSet

  for (s <- Strategy.Naive :: Strategy.Banded :: Strategy.Auto :: Nil; cap <- Seq(None, Some("2")))
    test(s"[$s, cap ${cap.getOrElse("default")}] edges ≡ popcount brute force at r 0..65; no BNLJ at r <= 64") {
      import spark.implicits._
      val df = propertyRows.toDF("index", "pdq_hash")
      val all = propertyRows.map(_._1)
      val subset = Seq("c0-00", "c1-05", "z0", "zf1", "d1", "m0", "r0", "s0")
      cap.foreach(spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, _))
      try for (checked <- Seq(None, Some(subset)); r <- Seq(0, 1, 5, 7, 31, 51, 63, 64, 65)) {
        val t = 1.0 - r / 256.0
        val edges = PdqDuplicates.edges(df, checked, t, s)
        val arrays = PdqDuplicates(df, checked, t, s)
        for (got <- Seq(edges, arrays)) {
          val plan = got.queryExecution.executedPlan.toString
          if (r <= 64) assert(!plan.contains("BroadcastNestedLoopJoin"), s"r=$r $checked planned a BNLJ:\n$plan")
        }
        val want = bruteForce(r, checked.getOrElse(all).toSet)
        assert(want.nonEmpty || r == 0, s"r=$r: vacuous input")
        val edgeRows = edges.collect().toSeq.map(x => (x.getString(0), x.getString(1), x.getDouble(2)))
        assert(edgeRows.size == edgeRows.toSet.size && edgeRows.toSet == want, s"edges r=$r checked=$checked")
        val fromArrays = arrays.collect().toSeq.flatMap(x =>
          x.getSeq[String](1).zip(x.getSeq[Double](2)).map { case (p, sim) => (x.getString(0), p, sim) })
        assert(fromArrays.size == fromArrays.toSet.size && fromArrays.toSet == want, s"apply r=$r checked=$checked")
      } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
    }

  test("Auto costs distinct hashes: a detect_archive-shaped input plans the kernel") {
    // 40,000 rows over 800 distinct hashes at radius 5: 640k distinct
    // pairs, not the 1.6e9 the row estimate gives
    import org.apache.spark.sql.functions._
    val id = col("id")
    val base = concat(md5(floor(id / 100).cast("string")), md5(concat(floor(id / 100).cast("string"), lit("x"))))
    val h = when(id % 5 === 0, concat(substring(base, 1, 63),
      when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
    val frame = spark.range(40000).select(id.cast("string").as("index"), array(h).as("pdq_hash"))
    val plan = PdqDuplicates.edges(frame, similarityThreshold = 0.98, strategy = Strategy.Auto,
      assumeFixed256 = true).queryExecution.executedPlan.toString
    assert(plan.contains("HammingKernelJoin maxDist=5, corpus=800"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("threshold 1.0 (radius 0) plans a hash equi-join, not all-pairs") {
    // n == 0 dispatches to the equi-join fast path for EVERY strategy:
    // the physical plan must contain neither the broadcast kernel
    // (HammingKernelJoin) nor the θ-join (BroadcastNestedLoopJoin).
    for (s <- Strategy.Naive :: Strategy.Banded :: Strategy.Auto :: Nil) {
      val df = PdqDuplicates.edges(pdqOnly(), similarityThreshold = 1.0, strategy = s)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$s planned a BNLJ:\n$plan")
      assert(!plan.contains("HammingKernelJoin"), s"$s planned the kernel:\n$plan")
    }
    // and the fast path produces the golden fixture's exact-dup edges
    val got = rows(run(t = 1.0)(Strategy.Auto))
    val want = Seq(
      Seq("UW0001", List("UW0002", "UW0003"), List(1.0, 1.0)),
      Seq("UW0002", List("UW0001", "UW0003"), List(1.0, 1.0)),
      Seq("UW0003", List("UW0001", "UW0002"), List(1.0, 1.0))
    )
    assert(got == want)
  }

  test("pdq_scale_30k replica: kernel result equals the analytically planted pair set") {
    // The 30k bench query is the one gate row without a DuckDB oracle
    // (the ~913M-pair quadratic replay exceeds gate time). Cross-check it
    // in-engine instead: hashes are md5-derived — effectively uniform
    // 256-bit values — so P(dist <= 51) for a non-planted pair is the
    // binomial(256, 1/2) tail at 51, ~1e-38. The exact expected result is
    // therefore the PLANTED pairs only, computable driver-side with
    // MessageDigest. (The Banded strategy is not run here: radius 51
    // needs 52 nibble-aligned bands of <= 8 bits, whose candidate set
    // degenerates toward all-pairs — which is why Auto's candidate test
    // sends this radius to the kernel at any size under the cap.)
    import org.apache.spark.sql.functions._
    val n = 30225L
    val e = spark.range(n).select(col("id").as("event_id"))
    val g = col("event_id").cast("string")
    val base = concat(md5(g), md5(concat(g, lit("x"))))
    val h = when(col("event_id") % 997 === 0,
      concat(substring(base, 1, 63),
        when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
    val frame = e.select(
      lpad(col("event_id").cast("string"), 8, "0").as("index"),
      array(when(col("event_id") % 997 === 1,
        concat(md5((col("event_id") - 1).cast("string")),
          md5(concat((col("event_id") - 1).cast("string"), lit("x"))))).otherwise(h)).as("pdq_hash"))
    def edges(s: Strategy) = PdqDuplicates.edges(frame, similarityThreshold = 0.8,
      strategy = s, assumeFixed256 = true)
    val auto = edges(Strategy.Auto)
    assert(auto.queryExecution.executedPlan.toString.contains("HammingKernelJoin maxDist=51, corpus=30225"),
      auto.queryExecution.executedPlan.toString)
    val got = edges(Strategy.Naive)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0L until n by 997L).filter(_ + 1 < n).flatMap { k =>
      val b = md5hex(k.toString) + md5hex(k.toString + "x")
      val last = Integer.parseInt(b.substring(63), 16)
      val flipped = if (last == 0) 1 else 0
      val dist = Integer.bitCount(last ^ flipped)
      val sim = 1.0 - dist / 256.0
      Seq((f"$k%08d", f"${k + 1}%08d", sim), (f"${k + 1}%08d", f"$k%08d", sim))
    }.toSet
    assert(expected.size == 62)
    assert(got == expected)
    assert(auto.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet == expected)
  }

  test("unknown method raises (pdq_hash.py:221-222)") {
    intercept[IllegalArgumentException](Strategy.fromMethod("nope"))
    assert(Strategy.fromMethod("mih") == Strategy.Banded)
    assert(Strategy.fromMethod("bk-tree") == Strategy.Banded)
    assert(Strategy.fromMethod("NAIVE") == Strategy.Naive)
  }
}
