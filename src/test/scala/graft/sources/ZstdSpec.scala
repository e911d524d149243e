package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Golden validation of the zstd decoder: every fixture under
  * `src/test/resources/zstd/` is a REAL system-zstd (v1.5.x, all CLI
  * levels from -1 to -19) compression of a payload this spec
  * regenerates deterministically (`tools/gen_zstd_fixtures.py` shares
  * the LCG/pattern definitions). Byte-exact decompression required. */
class ZstdSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name.zst")
    require(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  /** The shared deterministic generator (mirrors gen_zstd_fixtures.py). */
  private def lcgStream(n: Int, mod: Int): Array[Int] = {
    var x = 42L
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (java.lang.Long.remainderUnsigned(x >>> 33, mod.toLong)).toInt
    }
  }

  private val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")

  private def check(name: String, expected: Array[Byte]): Unit = {
    val got = Zstd.decompress(fixture(name))
    assert(got.length == expected.length, s"$name: length ${got.length} != ${expected.length}")
    assert(java.util.Arrays.equals(got, expected), s"$name: content mismatch")
  }

  private def res(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try in.readAllBytes() finally in.close()
  }

  test("dictionary frames: zstd --train dictionary, -D samples decode byte-exactly (l1/3/9/19)") {
    val dict = Zstd.parseDictionary(res("/zstd_dict/fixture.dict"))
    for (name <- Seq("sample_l1", "sample_l3", "sample_l9", "sample_l19", "tiny")) {
      val got = Zstd.decompress(res(s"/zstd_dict/$name.zst"), dict)
      val want = res(s"/zstd_dict/$name.raw")
      assert(got.length == want.length, s"$name: length ${got.length} != ${want.length}")
      assert(java.util.Arrays.equals(got, want), s"$name: content mismatch")
    }
  }

  test("dictionary frames refuse without the dictionary, and on id mismatch") {
    val payload = res("/zstd_dict/tiny.zst")
    val e1 = intercept[IllegalArgumentException](Zstd.decompress(payload))
    assert(e1.getMessage.contains("dictionary required"))
    // wrong dictionary: flip a bit in the stored id
    val d = res("/zstd_dict/fixture.dict").clone()
    d(4) = (d(4) ^ 1).toByte
    val wrong = Zstd.parseDictionary(d)
    val e2 = intercept[IllegalArgumentException](Zstd.decompress(payload, wrong))
    assert(e2.getMessage.contains("dictionary id mismatch"))
    // corrupt dictionary magic refuses at parse
    val bad = res("/zstd_dict/fixture.dict").clone()
    bad(0) = 0
    intercept[IllegalArgumentException](Zstd.parseDictionary(bad))
  }

  test("small text, level 3 (single compressed block, FSE sequences)") {
    check("small_text", ("the quick brown fox jumps over the lazy dog. " * 20).getBytes("US-ASCII"))
  }

  test("highly repetitive, level 19 (repeat offsets, RLE tiers)") {
    val expected = ("abcabcabc" * 5000) + ("x" * 4000) + ("the cat sat on the mat. " * 1000)
    check("repetitive", expected.getBytes("US-ASCII"))
  }

  test("341 KB text, level 6 (multi-block, 4-stream Huffman, table reuse)") {
    check("big_text", lcgStream(60000, 10).map(words).mkString(" ").getBytes("US-ASCII"))
  }

  test("incompressible bytes, level 3 (raw blocks)") {
    check("random_raw", lcgStream(5000, 256).map(_.toByte))
  }

  test("--no-check frame (no content checksum trailer)") {
    check("nocheck", ("the quick brown fox jumps over the lazy dog. " * 20).getBytes("US-ASCII"))
  }

  test("single byte") { check("tiny", Array('a'.toByte)) }

  test("100 KB single-symbol run (RLE blocks)") {
    check("runs", Array.fill(100000)('z'.toByte))
  }

  test("912 KB text, level 12 (many 128 KiB blocks, treeless/repeat reuse)") {
    check("multiblock", lcgStream(160000, 10).map(words).mkString(" ").getBytes("US-ASCII"))
  }

  test("empty payload") { check("empty", Array.emptyByteArray) }

  test("wide alphabet, -9 (FSE-compressed Huffman weights + 5-byte literals header)") {
    // verified at generation time: the frame's Huffman description
    // byte is < 128 (FSE weight stream) and the literals size format
    // is 3 — the paths the small-alphabet texts never exercise
    val expected = lcgStream(120000, 9216).map(v => (32 + math.min(v % 96, (v / 96) % 96)).toByte)
    check("wide_alpha", expected)
  }

  test("multi-frame concatenation and skippable frames") {
    val a = fixture("small_text")
    val skip = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 9, 9, 9) // 3-byte skippable
    val b = fixture("tiny")
    val got = Zstd.decompress(a ++ skip ++ b)
    val expected = ("the quick brown fox jumps over the lazy dog. " * 20) + "a"
    assert(new String(got, "US-ASCII") == expected)
  }

  test("store-mode encoder round-trips through the real frame walk") {
    for (n <- Seq(0, 1, 255, 256, 65792, 200000, 300000)) {
      val data = lcgStream(n, 256).map(_.toByte)
      val framed = Zstd.encodeRawFrames(data)
      assert(java.util.Arrays.equals(Zstd.decompress(framed), data), s"n=$n")
    }
  }

  test("a frame header declaring more than MaxOutput refuses from the header alone") {
    // single-segment frame, 8-byte content size MaxOutput + 1, then one
    // empty last raw block: a complete frame whose header alone is wrong
    val size = Zstd.MaxOutput.toLong + 1
    val p = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0xe0.toByte) ++
      (0 until 8).map(i => ((size >>> (8 * i)) & 0xff).toByte) ++ Array[Byte](0x01, 0, 0)
    val e = intercept[IllegalArgumentException](Zstd.decompress(p))
    assert(e.getMessage.contains("cap"), e.getMessage)
  }

  test("a frame with a 256 MiB window (zstd --long=28) decodes") {
    val data = lcgStream(200000, 10).map(i => words(i)).mkString(" ").getBytes("US-ASCII")
    val b = new java.io.ByteArrayOutputStream()
    val w = new com.github.luben.zstd.ZstdOutputStream(b)
    w.setWindowLog(28)
    w.write(data)
    w.close()
    val p = b.toByteArray
    // the header must really declare the window: no single-segment
    // flag, window descriptor exponent 28
    assert((p(4) & 0x20) == 0 && ((p(5) & 0xff) >> 3) + 10 == 28, f"header ${p(4)}%02x ${p(5)}%02x")
    assert(java.util.Arrays.equals(Zstd.decompress(p), data))
  }

  test("small frames decode alike across repeated calls, with and without a dictionary") {
    // one thread's calls share a native context: a dictionary or an
    // error must not leak into the next call
    val dict = Zstd.parseDictionary(res("/zstd_dict/fixture.dict"))
    val withDict = res("/zstd_dict/sample_l3.zst")
    val plain = fixture("small_text")
    val text = ("the quick brown fox jumps over the lazy dog. " * 20).getBytes("US-ASCII")
    val badSum = plain.clone()
    badSum(badSum.length - 1) = (badSum(badSum.length - 1) ^ 1).toByte
    for (_ <- 0 until 3) {
      assert(java.util.Arrays.equals(Zstd.decompress(withDict, dict), res("/zstd_dict/sample_l3.raw")))
      assert(java.util.Arrays.equals(Zstd.decompress(plain), text))
      intercept[IllegalArgumentException](Zstd.decompress(withDict))
      intercept[IllegalArgumentException](Zstd.decompress(badSum))
    }
  }

  test("corruption is loud: bad magic, truncation, dictionary frames") {
    intercept[IllegalArgumentException](Zstd.decompress("not zstd".getBytes))
    val f = fixture("small_text")
    intercept[RuntimeException](Zstd.decompress(java.util.Arrays.copyOf(f, f.length - 9)))
    val dict = f.clone()
    dict(4) = (dict(4) | 0x01).toByte // dictionary_id_flag
    intercept[RuntimeException](Zstd.decompress(dict))
    // store-mode frames refuse truncation structurally, not with AIOOBE
    val raw = Zstd.encodeRawFrames(("x" * 500).getBytes)
    val e = intercept[IllegalArgumentException](
      Zstd.decompress(java.util.Arrays.copyOf(raw, raw.length - 3)))
    assert(e.getMessage.contains("truncated"))
  }
}
