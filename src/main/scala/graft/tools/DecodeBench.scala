package graft.tools

/** Single-thread decode-throughput microbench for the ingest codecs:
  * `runMain graft.tools.DecodeBench`. No Spark session — the number
  * that matters at 100 TB is MB/s/core at the flatMap grain, which
  * multiplies by executor cores. Payload: the fixture word soup
  * (compresses ~5-8×, like web text). Producers are the classpath
  * reference encoders (JDK gzip, snappy-java, xz-java, commons-compress
  * bzip2 and 7z, zstd-jni), the repo's store-mode zstd writer, and the
  * committed system-CLI fixtures for lz4 and .Z (no encoder for those
  * on the classpath). Every case decodes through the public `graft.sources`
  * entry points and is checked byte-equal before it is timed. Two
  * cases time small inputs, where a fixed per-call cost shows: a
  * WARC-record-sized zstd body and a 7z archive of the same text. */
object DecodeBench {

  private def lcgWords(n: Int): Array[Byte] = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    var x = 42L
    Seq.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      words(java.lang.Long.remainderUnsigned(x >>> 33, 10L).toInt)
    }.mkString(" ").getBytes("US-ASCII")
  }

  private def encode(f: java.io.OutputStream => java.io.OutputStream, data: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val w = f(o); w.write(data); w.close(); o.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val data = lcgWords(2000000) // ~11.4 MB of word soup
    def bench(name: String, compressed: Array[Byte], decode: Array[Byte] => Array[Byte],
        expect: Array[Byte] = data, reps: Int = 5, warmup: Int = 3): Unit = {
      var out: Array[Byte] = null
      (0 until warmup).foreach(_ => out = decode(compressed))
      require(java.util.Arrays.equals(out, expect), s"$name: decode mismatch")
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => out = decode(compressed))
      val sec = (System.nanoTime() - t0) / 1e9
      val mbs = expect.length.toDouble * reps / sec / 1e6
      val us = sec / reps * 1e6
      println(f"$name%-16s ${compressed.length}%9d -> ${expect.length}%9d bytes  $mbs%8.1f MB/s  $us%10.1f us/call")
    }
    def fixture(path: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("src/test/resources", path))
    val fixtureText = lcgWords(60000) // the payload of the big_text CLI fixtures

    // gzip (JDK deflate under the strict member walk)
    bench("gzip-walk", encode(new java.util.zip.GZIPOutputStream(_), data), graft.sources.Gzip.decompress)

    // snappy raw, framed and hadoop block (snappy-java produced)
    val raw = org.xerial.snappy.Snappy.compress(data)
    bench("snappy-raw", raw, graft.sources.Snappy.decodeRaw(_))
    bench("snappy-framed", encode(new org.xerial.snappy.SnappyFramedOutputStream(_), data),
      graft.sources.Snappy.decompressFramed)
    val had = { val o = new java.io.ByteArrayOutputStream()
      for (v <- Seq(data.length, raw.length)) {
        o.write((v >>> 24) & 0xff); o.write((v >>> 16) & 0xff); o.write((v >>> 8) & 0xff); o.write(v & 0xff) }
      o.write(raw, 0, raw.length); o.toByteArray }
    bench("snappy-hadoop", had, graft.sources.Snappy.decodeHadoop)

    // lz4: the system-CLI fixtures (HC, and block-dependent 64 KiB blocks)
    bench("lz4-cli-frames", fixture("lz4/big_text_hc.lz4"), graft.sources.Lz4.decompress, fixtureText, 200)
    bench("lz4-dependent", fixture("lz4/big_text_b4d.lz4"), graft.sources.Lz4.decompress, fixtureText, 200)

    // zstd store frames (frame walk overhead), and one WARC-record-sized
    // body (zstd-jni level 3): the per-record Content-Encoding grain
    bench("zstd-frames", graft.sources.Zstd.encodeRawFrames(data), graft.sources.Zstd.decompress(_))
    val record = lcgWords(700)
    bench("zstd-record", com.github.luben.zstd.Zstd.compress(record, 3), graft.sources.Zstd.decompress(_),
      record, 20000, 20000)

    // xz and lzma-alone (xz-java produced, preset 6)
    bench("xz", encode(new org.tukaani.xz.XZOutputStream(_, new org.tukaani.xz.LZMA2Options()), data),
      graft.sources.Xz.decompress)
    bench("lzma-alone", encode(new org.tukaani.xz.LZMAOutputStream(_, new org.tukaani.xz.LZMA2Options(),
      data.length.toLong), data), graft.sources.Xz.decompressAlone)

    // bzip2 (commons-compress produced, 900k blocks)
    bench("bzip2", encode(new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(_), data),
      graft.sources.Bzip2.decompress, reps = 2)

    // 7z: one LZMA2 entry written by commons-compress, large and tiny
    def sevenZ(payload: Array[Byte]): Array[Byte] = {
      val tmp = java.io.File.createTempFile("decodebench", ".7z")
      try {
        val w = new org.apache.commons.compress.archivers.sevenz.SevenZOutputFile(tmp)
        val e = new org.apache.commons.compress.archivers.sevenz.SevenZArchiveEntry()
        e.setName("words.txt")
        w.putArchiveEntry(e); w.write(payload); w.closeArchiveEntry(); w.close()
        java.nio.file.Files.readAllBytes(tmp.toPath)
      } finally tmp.delete()
    }
    bench("7z-lzma2", sevenZ(data), p => graft.sources.SevenZ.extract(p).head._2)
    bench("7z-tiny", sevenZ(record), p => graft.sources.SevenZ.extract(p).head._2, record, 2000, 2000)

    // .Z LZW (system-compress fixture)
    bench("lzw-dot-Z", fixture("lzw_z/big_text.Z"), graft.sources.LzwZ.decompress, fixtureText, 50)
    println("DECODEBENCH_DONE")
  }
}
