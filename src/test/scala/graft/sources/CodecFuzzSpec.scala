package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz sweep for the codec fleet (beyond the fixed-
  * fixture corruption sweeps): seeded random payloads round-trip
  * through the CLASSPATH system encoders (java Deflater/gzip,
  * commons-compress bzip2, xz-java xz/lzma, lz4-java frames,
  * snappy-java raw + framed, commons-compress 7z) and must come back
  * byte-equal through the repo's decode entry points (library-backed
  * wrappers and from-scratch decoders alike); then seeded
  * structured mutations (byte flips, truncations) of every encoding
  * must terminate — either a clean decode or a refusal, never a hang
  * or an uncontrolled error class. Codecs with no classpath encoder
  * (brotli, .Z, dict-zstd) keep their dev-time system-binary sweeps;
  * repo-encoded zstd raw frames join the mutation sweep here. */
class CodecFuzzSpec extends AnyFunSuite {

  private val Seeds = 0 until 12

  /** Mixed-texture payload: random bytes, byte runs, ascii-ish words,
    * and self-copies — the shapes that exercise literal/match paths. */
  private def payload(seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed * 2654435761L + 97)
    val out = new java.io.ByteArrayOutputStream()
    val n = 500 + rnd.nextInt(6000)
    while (out.size < n) {
      rnd.nextInt(4) match {
        case 0 => // random block
          val b = new Array[Byte](rnd.nextInt(300) + 1); rnd.nextBytes(b); out.write(b)
        case 1 => // run
          val v = rnd.nextInt(256); val len = rnd.nextInt(400) + 4
          var i = 0; while (i < len) { out.write(v); i += 1 }
        case 2 => // words
          val w = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
          var i = 0
          while (i < 30) { out.write(w(rnd.nextInt(w.size)).getBytes("US-ASCII")); out.write(' '); i += 1 }
        case _ => // self-copy
          val cur = out.toByteArray
          if (cur.nonEmpty) {
            val from = rnd.nextInt(cur.length)
            val len = math.min(cur.length - from, rnd.nextInt(200) + 1)
            out.write(cur, from, len)
          }
      }
    }
    out.toByteArray
  }

  private def gzip(d: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(b)
    g.write(d); g.close(); b.toByteArray
  }
  private def bzip2(d: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val w = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(b)
    w.write(d); w.close(); b.toByteArray
  }
  private def xz(d: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val w = new org.tukaani.xz.XZOutputStream(b, new org.tukaani.xz.LZMA2Options())
    w.write(d); w.close(); b.toByteArray
  }
  private def lzmaAlone(d: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val w = new org.tukaani.xz.LZMAOutputStream(b, new org.tukaani.xz.LZMA2Options(), d.length.toLong)
    w.write(d); w.finish(); b.toByteArray
  }
  private def lz4Frame(d: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val w = new net.jpountz.lz4.LZ4FrameOutputStream(b)
    w.write(d); w.close(); b.toByteArray
  }
  private def snappyRaw(d: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.compress(d)
  private def snappyFramed(d: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val w = new org.xerial.snappy.SnappyFramedOutputStream(b)
    w.write(d); w.close(); b.toByteArray
  }

  private val codecs: Seq[(String, Array[Byte] => Array[Byte], Array[Byte] => Array[Byte])] = Seq(
    ("gzip", gzip, Gzip.decompress),
    ("bzip2", bzip2, Bzip2.decompress),
    ("xz", xz, Xz.decompress),
    ("lzma-alone", lzmaAlone, Xz.decompressAlone),
    ("lz4-frame", lz4Frame, Lz4.decompress),
    ("snappy-raw", snappyRaw, (p: Array[Byte]) => Snappy.decodeRaw(p)),
    ("snappy-framed", snappyFramed, Snappy.decompressFramed),
    ("zstd-raw", Zstd.encodeRawFrames, (p: Array[Byte]) => Zstd.decompress(p)))

  for ((name, enc, dec) <- codecs) {
    test(s"$name: seeded system-encoder round trips come back byte-equal") {
      for (seed <- Seeds) {
        val d = payload(seed)
        val got = dec(enc(d))
        assert(java.util.Arrays.equals(got, d), s"$name seed $seed: ${got.length} vs ${d.length}")
      }
    }

    test(s"$name: seeded mutations terminate (decode or refuse, no hang)") {
      val d = payload(7)
      val e = enc(d)
      val rnd = new scala.util.Random(name.hashCode * 31 + 5)
      var refused = 0
      for (_ <- 0 until 60) {
        val m = e.clone()
        rnd.nextInt(3) match {
          case 0 => m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          case 1 => // truncate
            val cut = rnd.nextInt(m.length)
            val t = java.util.Arrays.copyOf(m, cut)
            try dec(t) catch { case _: Exception => refused += 1 }
          case _ =>
            var k = 0
            while (k < 4) { m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte; k += 1 }
        }
        try dec(m) catch { case _: Exception => refused += 1 }
      }
      assert(refused > 0, s"$name: no mutation ever refused (sweep too weak)")
    }
  }

  test("7z: commons-compress archives round trip across coder configs") {
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZMethod, SevenZOutputFile}
    for (seed <- Seeds.take(6)) {
      val d = payload(seed)
      val tmp = java.io.File.createTempFile("codecfuzz", ".7z")
      try {
        val w = new SevenZOutputFile(tmp)
        w.setContentCompression(if (seed % 2 == 0) SevenZMethod.LZMA2 else SevenZMethod.LZMA)
        val e = w.createArchiveEntry(tmp, s"data$seed.bin")
        w.putArchiveEntry(e); w.write(d); w.closeArchiveEntry(); w.close()
        val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
        val got = SevenZ.extract(bytes)
        assert(got.size == 1 && java.util.Arrays.equals(got.head._2, d), s"7z seed $seed")
      } finally tmp.delete()
    }
  }
}
