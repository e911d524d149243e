package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Golden validation of the xz/LZMA2 decoder against system-xz output
  * (fixtures regenerable via `tools/gen_xz_fixtures.py`). */
class XzSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/xz/$name.xz")
    require(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private def lcgStream(n: Int, mod: Int): Array[Int] = {
    var x = 42L
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      java.lang.Long.remainderUnsigned(x >>> 33, mod.toLong).toInt
    }
  }

  private val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")

  private def check(name: String, expected: Array[Byte]): Unit = {
    val got = Xz.decompress(fixture(name))
    assert(got.length == expected.length, s"$name: length ${got.length} != ${expected.length}")
    assert(java.util.Arrays.equals(got, expected), s"$name: content mismatch")
  }

  private def bigText = lcgStream(60000, 10).map(words).mkString(" ").getBytes("US-ASCII")

  test("small text, -6 (CRC32 check verified)") {
    check("small_text", ("the quick brown fox jumps over the lazy dog. " * 20).getBytes("US-ASCII"))
  }

  test("341 KB text, -9") { check("big_text", bigText) }

  test("CRC64 check type verified") { check("big_text_crc64", bigText) }

  test("SHA-256 check type verified") { check("big_text_sha256", bigText) }

  test("forced 64 KiB blocks (multi-block walk, independent dictionaries)") {
    check("multiblock", bigText)
  }

  test("incompressible bytes (LZMA2 uncompressed chunks)") {
    check("random_bytes", lcgStream(5000, 256).map(_.toByte))
  }

  test("100 KB single-symbol run (rep-distance machinery)") {
    check("runs", Array.fill(100000)('z'.toByte))
  }

  test("single byte") { check("tiny", Array('a'.toByte)) }

  test("empty payload") { check("empty", Array.emptyByteArray) }

  test("wide alphabet at -9e (heaviest literal contexts)") {
    check("wide_alpha",
      lcgStream(120000, 9216).map(v => (32 + math.min(v % 96, (v / 96) % 96)).toByte))
  }

  test(".lzma alone format: unknown-size end-marker termination") {
    def alone(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/xz/$name.lzma")
      require(in != null, s"missing fixture $name")
      try in.readAllBytes() finally in.close()
    }
    assert(new String(Xz.decompressAlone(alone("alone_small")), "US-ASCII") ==
      "the quick brown fox jumps over the lazy dog. " * 20)
    assert(java.util.Arrays.equals(Xz.decompressAlone(alone("alone_big")), bigText))
    assert(Xz.decompressAlone(alone("alone_empty")).isEmpty)
    // truncated alone stream: marker never arrives -> loud
    val f = alone("alone_small")
    intercept[RuntimeException](Xz.decompressAlone(java.util.Arrays.copyOf(f, f.length - 6)))
  }

  test("decoding the same streams again stays byte-exact (no state shared between decodes)") {
    // an alone stream with a 64 KiB dictionary: the payload wraps it,
    // so the first decode leaves every dictionary byte written
    val alone = {
      val o = new org.tukaani.xz.LZMA2Options()
      o.setDictSize(1 << 16)
      val b = new java.io.ByteArrayOutputStream()
      val w = new org.tukaani.xz.LZMAOutputStream(b, o, bigText.length.toLong)
      w.write(bigText); w.finish(); b.toByteArray
    }
    for (_ <- 0 until 3) {
      check("big_text", bigText)
      assert(java.util.Arrays.equals(Xz.decompressAlone(alone), bigText))
    }
  }

  test("multi-stream concatenation with stream padding") {
    val a = fixture("small_text")
    val pad = new Array[Byte](4) // stream padding, 4-aligned zeros
    val b = fixture("tiny")
    val got = Xz.decompress(a ++ pad ++ b)
    val expected = ("the quick brown fox jumps over the lazy dog. " * 20) + "a"
    assert(new String(got, "US-ASCII") == expected)
  }

  /** Fake machine code mirroring gen_xz_fixtures.code_payload: LCG
    * noise + crafted E8/E9 call sites with 00/FF displacement tops. */
  private def codePayload: Array[Byte] = {
    val noise = lcgStream(40000, 256).map(_.toByte)
    val calls = new java.io.ByteArrayOutputStream()
    for ((v, k) <- lcgStream(2000, 1 << 20).zipWithIndex) {
      calls.write(if (k % 2 == 0) 0xE8 else 0xE9)
      calls.write(v & 0xff); calls.write((v >>> 8) & 0xff)
      calls.write((v >>> 16) & 0x0f)
      calls.write(if ((k / 2) % 2 == 0) 0x00 else 0xFF)
      for (_ <- 0 until (k % 3)) calls.write(0x90)
    }
    noise ++ calls.toByteArray ++ noise
  }

  test("delta filter, dist=1 and dist=4") {
    check("f_delta1", bigText)
    check("f_delta4", codePayload)
  }

  test("x86 BCJ filter (E8/E9 rel32 conversion), single- and multi-block") {
    check("f_x86", codePayload)
    check("f_x86_multiblock", codePayload) // per-block filter state reset
  }

  test("ARM / ARM-Thumb / ARM64 branch converters") {
    check("f_arm", codePayload)
    check("f_armthumb", codePayload)
    check("f_arm64", codePayload)
  }

  test("SPARC / PowerPC branch converters") {
    check("f_sparc", codePayload)
    check("f_powerpc", codePayload)
  }

  test("two-pre-filter chain: delta then x86 then LZMA2") {
    check("f_delta_x86", codePayload)
  }

  test("ia64 and riscv filters decode (real system-xz streams)") {
    for (n <- Seq("f_ia64_refuse", "f_riscv_refuse")) check(n, "refusal probe".getBytes("US-ASCII"))
  }

  test("an alone header declaring more than MaxOutput refuses from the header alone") {
    // props 0x5d, 64 KiB dictionary, declared size MaxOutput + 1, and
    // five stream bytes: decoding them would fail differently
    val p = new Array[Byte](18)
    p(0) = 0x5d
    p(3) = 0x01
    val size = Xz.MaxOutput.toLong + 1
    for (i <- 0 until 8) p(5 + i) = ((size >>> (8 * i)) & 0xff).toByte
    val e = intercept[IllegalArgumentException](Xz.decompressAlone(p))
    assert(e.getMessage.contains("cap"), e.getMessage)
  }

  test("corruption is loud: bad magic, flipped payload bit fails the check, truncation") {
    intercept[IllegalArgumentException](Xz.decompress("definitely not xz".getBytes))
    val f = fixture("small_text")
    val flipped = f.clone()
    flipped(40) = (flipped(40) ^ 0x04).toByte
    intercept[RuntimeException](Xz.decompress(flipped))
    intercept[RuntimeException](Xz.decompress(java.util.Arrays.copyOf(f, f.length - 8)))
  }
}
