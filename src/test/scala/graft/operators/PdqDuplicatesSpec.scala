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

  test("theta-join fallback (corpus over kernel cap) ≡ broadcast kernel") {
    // force the fallback by shrinking the kernel cap below the corpus
    val kernel = rows(run()(Strategy.Naive))
    spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, "2")
    try {
      val theta = rows(run()(Strategy.Naive))
      assert(theta == kernel)
      assert(theta == Fixtures.expectedPdq)
    } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
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
    // degenerates toward all-pairs — prepare() would route it to the
    // θ-join anyway at n >= 64 only, and the bench declares the kernel
    // the point of this query.)
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
    val got = PdqDuplicates.edges(frame, similarityThreshold = 0.8,
        strategy = Strategy.Naive, assumeFixed256 = true)
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
  }

  test("unknown method raises (pdq_hash.py:221-222)") {
    intercept[IllegalArgumentException](Strategy.fromMethod("nope"))
    assert(Strategy.fromMethod("mih") == Strategy.Banded)
    assert(Strategy.fromMethod("bk-tree") == Strategy.Banded)
    assert(Strategy.fromMethod("NAIVE") == Strategy.Naive)
  }
}
