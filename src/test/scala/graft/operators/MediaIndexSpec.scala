package graft.operators

import graft.SparkTestBase
import graft.functions.HashFunctions.hexBands
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Persisted media-hash index + incremental classify ([[MediaIndex]]).
  * Hashes here are hand-picked hex strings (the kernel has its own
  * spec); these tests pin the INDEX semantics: banding completeness at
  * the radius, exact/near/novel classification, best-match tie rules,
  * and the manifest lifecycle. */
class MediaIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val zero = "0" * 64
  private def flipNibbles(h: String, at: Seq[Int], to: Char = 'f'): String =
    at.foldLeft(h)((s, i) => s.updated(i, to))

  test("classify: exact / near / novel with best-(dist, id) winner") {
    val corpus = Seq(
      (1L, zero),
      (2L, flipNibbles(zero, Seq(0, 8, 16, 24), 'f')), // dist 16 from zero
      (3L, "a" * 64)
    ).toDF("id", "pdq_hex")
    val idx = MediaIndex.build(corpus, "id", "pdq_hex", radius = 32)
    val batch = Seq(
      (10L, zero),                            // exact → corpus 1
      (11L, flipNibbles(zero, Seq(4))),       // dist 4 from 1, 20 from 2 → near 1
      (12L, "5" * 64),                        // 128+ from everything → novel
      (13L, flipNibbles(zero, Seq(0, 8)))     // dist 8 from BOTH 1 and 2 → tie on dist, min id wins
    ).toDF("id", "pdq_hex")
    val r = MediaIndex.classify(idx, batch, "id", "pdq_hex").collect()
      .map(x => x.getLong(0) -> ((x.getString(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), if (x.isNullAt(3)) -1L else x.getLong(3)))).toMap
    assert(r(10L) == (("exact", 1L, 0L)))
    assert(r(11L) == (("near", 1L, 4L)))
    assert(r(12L) == (("novel", -1L, -1L)))
    assert(r(13L) == (("near", 1L, 8L)))
  }

  test("banding completeness: every pair within the radius survives the band join") {
    // 33 bands at radius 32 → any ≤32-bit difference shares a band.
    // Flip exactly 32 bits spread across 32 DIFFERENT nibbles — the
    // adversarial spread case for banding.
    val spread = flipNibbles(zero, (0 until 64 by 2).take(32), '1') // 32 nibbles, 1 bit each
    val idx = MediaIndex.build(Seq((1L, zero)).toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 32)
    val r = MediaIndex.classify(idx, Seq((9L, spread)).toDF("id", "pdq_hex"), "id", "pdq_hex")
      .collect().head
    assert(r.getString(1) == "near" && r.getLong(3) == 32L)
    // one bit beyond the radius is out, not mis-surfaced
    val beyond = flipNibbles(spread, Seq(1), '1')
    val r2 = MediaIndex.classify(idx, Seq((9L, beyond)).toDF("id", "pdq_hex"), "id", "pdq_hex")
      .collect().head
    assert(r2.getString(1) == "novel")
  }

  test("write → read round-trip; manifest is the commit marker; radius pinned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media_idx_spec").toString
    val idx = MediaIndex.build(Seq((1L, zero), (2L, "a" * 64)).toDF("id", "pdq_hex"),
      "id", "pdq_hex", radius = 16)
    MediaIndex.writeIndex(idx, s"$dir/ok")
    val back = MediaIndex.readIndex(spark, s"$dir/ok")
    assert(back.params == MediaIndex.Params(16))
    assert(rows(back.hashes) == rows(idx.hashes))
    assert(!new java.io.File(s"$dir/ok/bands").exists())
    intercept[IllegalStateException](MediaIndex.readIndex(spark, s"$dir/missing"))
    // uncommitted partial write refuses to read and to append
    idx.hashes.write.parquet(s"$dir/dead/hashes")
    intercept[IllegalStateException](MediaIndex.readIndex(spark, s"$dir/dead"))
    intercept[IllegalStateException](
      MediaIndex.writeIndex(idx, s"$dir/dead", org.apache.spark.sql.SaveMode.Append))
    // append with a different radius fails before touching relations
    val other = MediaIndex.build(Seq((3L, "b" * 64)).toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 8)
    intercept[IllegalArgumentException](
      MediaIndex.writeIndex(other, s"$dir/ok", org.apache.spark.sql.SaveMode.Append))
    // append with matching params lands and serves the union
    val more = MediaIndex.build(Seq((3L, "b" * 64)).toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 16)
    MediaIndex.writeIndex(more, s"$dir/ok", org.apache.spark.sql.SaveMode.Append)
    assert(MediaIndex.readIndex(spark, s"$dir/ok").hashes.count() == 3)
  }

  test("compactIndex: appended shards -> one file per relation/partition, classify bit-identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_media_idx_compact").toString
    val src = s"$base/src"
    MediaIndex.writeIndex(MediaIndex.build(
      Seq((1L, zero), (3L, "a" * 64)).toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 32), src)
    MediaIndex.writeIndex(MediaIndex.build(
      Seq((2L, flipNibbles(zero, Seq(0, 8, 16, 24), 'f'))).toDF("id", "pdq_hex"),
      "id", "pdq_hex", radius = 32), src, org.apache.spark.sql.SaveMode.Append)
    val batch = Seq((10L, zero), (11L, flipNibbles(zero, Seq(4))), (12L, "5" * 64),
      (13L, flipNibbles(zero, Seq(0, 8)))).toDF("id", "pdq_hex")
    def classify(path: String) = rows(
      MediaIndex.classify(MediaIndex.readIndex(spark, path), batch, "id", "pdq_hex").orderBy("id"))
    val before = classify(src)
    val dst = s"$base/dst"
    MediaIndex.compactIndex(spark, src, dst)
    assert(classify(dst) == before && before.nonEmpty)
    def parquetFiles(p: String): Seq[java.io.File] = {
      val f = new java.io.File(p)
      val (dirs, files) = Option(f.listFiles()).getOrElse(Array.empty).toSeq.partition(_.isDirectory)
      files.filter(_.getName.endsWith(".parquet")) ++ dirs.flatMap(d => parquetFiles(d.toString))
    }
    assert(parquetFiles(s"$dst/hashes").size == 1)
    assert(!new java.io.File(s"$dst/bands").exists())
    // source stays read-only and still serves; refusals fail fast
    assert(classify(src) == before)
    assert(parquetFiles(s"$src/hashes").size > 1)
    intercept[IllegalStateException](MediaIndex.compactIndex(spark, s"$base/nope", s"$base/x"))
    intercept[Exception](MediaIndex.compactIndex(spark, src, dst))
  }

  test("classify plan: band equi-join + combinable winner, no product, no window") {
    val idx = MediaIndex.build(Seq((1L, zero)).toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 32)
    val p = MediaIndex.classify(idx, Seq((9L, "a" * 64)).toDF("id", "pdq_hex"), "id", "pdq_hex")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"skew-prone window planned:\n$p")
  }

  private def classified(idx: MediaIndex.Index, batch: DataFrame): Map[Long, (String, Long, Long)] =
    MediaIndex.classify(idx, batch, "id", "pdq_hex").collect()
      .map(x => x.getLong(0) -> ((x.getString(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), if (x.isNullAt(3)) -1L else x.getLong(3)))).toMap

  test("canonical hashes: uppercase and short hashes match their zero-padded lowercase form") {
    val idx = MediaIndex.build(Seq((1L, "AB" * 32), (2L, "ff"), (3L, "0" * 63 + "1"))
      .toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 4)
    val r = classified(idx, Seq(
      (10L, "ab" * 32),          // lowercase of corpus 1
      (11L, "0" * 62 + "FF"),    // padded uppercase of corpus 2
      (12L, "3"),                // dist 1 from corpus 3, 6 from corpus 2
      (13L, "aB" * 31 + "aa")    // dist 1 from corpus 1
    ).toDF("id", "pdq_hex"))
    assert(r == Map(10L -> (("exact", 1L, 0L)), 11L -> (("exact", 2L, 0L)),
      12L -> (("near", 3L, 1L)), 13L -> (("near", 1L, 1L))))
  }

  test("malformed hashes refuse, naming the id, on both sides and on both legs") {
    def refusal(f: => Any): String = {
      val e = intercept[Exception](f)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(!chain.exists(_.isInstanceOf[NumberFormatException]), e)
      chain.map(c => String.valueOf(c.getMessage)).mkString("\n")
    }
    val good = MediaIndex.build(Seq((1L, zero)).toDF("id", "pdq_hex"), "id", "pdq_hex", radius = 8)
    for ((bad, i) <- Seq("xyz", "0" * 65, "", "g" + "0" * 63).zipWithIndex) {
      val id = 70L + i
      val df = Seq((id, bad)).toDF("id", "pdq_hex")
      for (cap <- Seq(None, Some("0"))) {
        cap.foreach(spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, _))
        try {
          assert(refusal(MediaIndex.classify(good, df, "id", "pdq_hex").collect())
            .contains(s"PDQ hash of id $id is not 1 to 64 hex digits"))
          assert(refusal(MediaIndex.classify(MediaIndex.build(df, "id", "pdq_hex", radius = 8),
            Seq((9L, zero)).toDF("id", "pdq_hex"), "id", "pdq_hex").collect())
            .contains(s"PDQ hash of id $id"))
        } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_media_idx_bad").toString
      assert(refusal(MediaIndex.writeIndex(MediaIndex.build(df, "id", "pdq_hex", radius = 8),
        s"$dir/idx", org.apache.spark.sql.SaveMode.Overwrite)).contains(s"PDQ hash of id $id"))
    }
  }

  /** An index in the two-relation layout: `hashes/`, a band relation
    * Hive-partitioned by band_id, and the manifest. */
  private def writeBandedLayout(dir: String, corpus: DataFrame, radius: Int): Unit = {
    corpus.write.parquet(s"$dir/hashes")
    corpus.select(col("pdq_hex"), explode(hexBands(col("pdq_hex"), radius + 1)).as("b"))
      .select(col("pdq_hex"), col("b.band_id"), col("b.band")).distinct()
      .write.partitionBy("band_id").parquet(s"$dir/bands")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_GRAFT_MEDIA_INDEX_MANIFEST"),
      s"radius=$radius\n")
  }

  test("format migration: a band-layout index reads and classifies identically; writes drop bands/") {
    val base = java.nio.file.Files.createTempDirectory("graft_media_idx_migrate").toString
    val corpus = Seq((1L, zero), (2L, flipNibbles(zero, Seq(0, 8, 16, 24), 'f')), (3L, "a" * 64))
      .toDF("id", "pdq_hex")
    val batch = Seq((10L, zero), (11L, flipNibbles(zero, Seq(4))), (12L, "5" * 64),
      (13L, flipNibbles(zero, Seq(0, 8))), (14L, "b" * 64)).toDF("id", "pdq_hex")
    writeBandedLayout(s"$base/old", corpus, 32)
    val old = MediaIndex.readIndex(spark, s"$base/old")
    assert(old.params == MediaIndex.Params(32))
    val want = classified(MediaIndex.build(corpus, "id", "pdq_hex", radius = 32), batch)
    assert(classified(old, batch) == want)
    // Append onto the old layout: bands/ goes, the union serves
    MediaIndex.writeIndex(MediaIndex.build(Seq((4L, "b" * 64)).toDF("id", "pdq_hex"), "id", "pdq_hex", 32),
      s"$base/old", org.apache.spark.sql.SaveMode.Append)
    assert(!new java.io.File(s"$base/old/bands").exists())
    assert(classified(MediaIndex.readIndex(spark, s"$base/old"), batch) ==
      want + (14L -> (("exact", 4L, 0L))))
    // Overwrite onto the old layout: bands/ goes too
    writeBandedLayout(s"$base/over", corpus, 32)
    MediaIndex.writeIndex(MediaIndex.build(corpus, "id", "pdq_hex", radius = 32), s"$base/over",
      org.apache.spark.sql.SaveMode.Overwrite)
    assert(!new java.io.File(s"$base/over/bands").exists())
    assert(classified(MediaIndex.readIndex(spark, s"$base/over"), batch) == want)
  }

  // ---- property: classify ≡ brute-force nearest scan, on both legs ------

  private val hexDigit = Gen.oneOf("0123456789abcdef".toSeq)
  private def flipBits(h: String, bits: Seq[Int]): String = bits.foldLeft(h) { (s, b) =>
    val i = b / 4
    s.updated(i, Character.forDigit(Character.digit(s(i), 16) ^ (1 << (b % 4)), 16))
  }
  private def dist(a: String, b: String): Int =
    a.indices.map(i => Integer.bitCount(Character.digit(a(i), 16) ^ Character.digit(b(i), 16))).sum

  /** Corpus and batch for radius r: random hashes, skewed ones sharing an
    * all-zero tail, duplicate corpus hashes under other ids, batch
    * hashes flipped 0..r+2 bits from a corpus hash (some spelled short
    * or uppercase), exact copies, novel hashes and duplicate batch
    * hashes. */
  private def sample(r: Int, seed: Long): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val random = Gen.listOfN(64, hexDigit).map(_.mkString)
    val skewed = Gen.listOfN(6, hexDigit).map(_.mkString + "0" * 58)
    val gen = for {
      rs <- Gen.listOfN(40, random)
      ss <- Gen.listOfN(40, skewed)
      dupOf <- Gen.listOfN(15, Gen.choose(0, 79))
      near <- Gen.listOfN(60, for {
        src <- Gen.choose(0, 94)
        k <- Gen.frequency(3 -> Gen.choose(0, r + 2), 1 -> Gen.choose(0, 80))
        bits <- Gen.pick(k, 0 until 256)
        spell <- Gen.choose(0, 3)
      } yield (src, bits.toSeq, spell))
      copies <- Gen.listOfN(5, Gen.choose(0, 94))
      novel <- Gen.listOfN(10, random)
      dupBatch <- Gen.listOfN(10, Gen.choose(0, 74))
    } yield {
      val base = rs ++ ss
      val corpus = (base ++ dupOf.map(base)).zipWithIndex.map { case (h, i) => (1000L - i, h) }
      val near64 = near.map { case (src, bits, spell) =>
        val h = flipBits(corpus(src)._2, bits)
        (h, spell match {
          case 0 => h.toUpperCase
          case 1 => h.dropWhile(_ == '0') match { case "" => "0"; case t => t }
          case _ => h
        })
      }
      val spelled = near64.map(_._2) ++ copies.map(corpus(_)._2) ++ novel
      val batch = (spelled ++ dupBatch.map(spelled)).zipWithIndex.map { case (h, i) => (i.toLong, h) }
      (corpus, batch)
    }
    gen.pureApply(Gen.Parameters.default, Seed(seed))
  }

  private def bruteForce(corpus: Seq[(Long, String)], batch: Seq[(Long, String)], r: Int) = {
    def canon(h: String) = ("0" * (64 - h.length) + h).toLowerCase
    batch.map { case (bid, bh) =>
      val hits = corpus.map { case (cid, ch) => (dist(canon(bh), canon(ch)), cid) }.filter(_._1 <= r)
      bid -> (if (hits.isEmpty) ("novel", -1L, -1L) else {
        val (d, cid) = hits.min
        (if (d == 0) "exact" else "near", cid, d.toLong)
      })
    }.toMap
  }

  for (r <- Seq(0, 1, 7, 31, 32, 63)) {
    test(s"property: classify ≡ brute-force nearest scan at radius $r, kernel and banded legs") {
      val (corpus, batch) = sample(r, 100L + r)
      val want = bruteForce(corpus, batch, r)
      assert(want.values.exists(_._1 == "near") || r == 0)
      assert(want.values.exists(_._1 == "exact") && want.values.exists(_._1 == "novel"))
      val idx = MediaIndex.build(corpus.toDF("id", "pdq_hex"), "id", "pdq_hex", r)
      val batchDf = batch.toDF("id", "pdq_hex")
      def plan = MediaIndex.classify(idx, batchDf, "id", "pdq_hex").queryExecution.executedPlan.toString
      assert(classified(idx, batchDf) == want, "kernel leg")
      assert(plan.contains("HammingKernelJoin") == (r > 0), plan)
      spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, "0")
      try {
        assert(classified(idx, batchDf) == want, "banded leg")
        val p = plan
        assert(!p.contains("HammingKernelJoin"), p)
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
      } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
    }
  }
}
