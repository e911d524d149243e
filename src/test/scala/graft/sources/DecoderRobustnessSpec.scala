package graft.sources

import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Corruption sweeps over every ingest decoder — the library-backed
  * wrappers (xz/lzma, zstd, bzip2, .Z, 7z, ar, cpio) as much as the
  * from-scratch ones (lz4, snappy, brotli, sequencefile, heif): every
  * truncation point (stride-sampled) and a battery of deterministic
  * bit flips must TERMINATE — either a clean decode (flips can land in
  * skipped regions) or an exception the `keepCorrupt` tiers
  * quarantine; a native-library crash fails the suite. The property under
  * test is the absence of hangs and runaway allocation: at crawl
  * scale a decoder that loops on corrupt input is a stuck executor,
  * which is worse than a wrong answer because nothing surfaces it. */
class DecoderRobustnessSpec extends AnyFunSuite with TimeLimits {

  private def fixture(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing fixture $path")
    try in.readAllBytes() finally in.close()
  }

  private def lcg(n: Int, mod: Int): Seq[Int] = {
    var x = 42L
    Seq.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      java.lang.Long.remainderUnsigned(x >>> 33, mod.toLong).toInt
    }
  }

  private def sweep(name: String, bytes: Array[Byte], decode: Array[Byte] => Array[Byte]): Unit = {
    failAfter(Span(120, Seconds)) {
      // truncations: every 7th cut point
      var at = 1
      while (at < bytes.length) {
        try decode(java.util.Arrays.copyOf(bytes, at))
        catch { case e: Throwable if !e.isInstanceOf[StackOverflowError] => () }
        at += 7
      }
      // deterministic single-bit flips
      for (i <- lcg(64, bytes.length * 8)) {
        val mut = bytes.clone()
        mut(i / 8) = (mut(i / 8) ^ (1 << (i % 8))).toByte
        try decode(mut)
        catch { case e: Throwable if !e.isInstanceOf[StackOverflowError] => () }
      }
    }
  }

  test("zstd terminates on all truncations and bit flips") {
    sweep("zstd", fixture("/zstd/small_text.zst"), Zstd.decompress)
    sweep("zstd-big", fixture("/zstd/repetitive.zst"), Zstd.decompress)
  }

  test("bzip2 terminates on all truncations and bit flips") {
    sweep("bzip2", fixture("/bzip2/small_text.bz2"), Bzip2.decompress)
    sweep("bzip2-runs", fixture("/bzip2/runs.bz2"), Bzip2.decompress)
  }

  test("xz terminates on all truncations and bit flips") {
    sweep("xz", fixture("/xz/small_text.xz"), Xz.decompress)
    sweep("xz-runs", fixture("/xz/runs.xz"), Xz.decompress)
    sweep("xz-x86-filter", fixture("/xz/f_x86_multiblock.xz"), Xz.decompress)
  }

  test("lzma alone terminates on all truncations and bit flips") {
    sweep("alone", fixture("/xz/alone_small.lzma"), Xz.decompressAlone)
  }

  test("lz4 terminates on all truncations and bit flips") {
    sweep("lz4", fixture("/lz4/small_text.lz4"), Lz4.decompress)
    sweep("lz4-runs", fixture("/lz4/runs.lz4"), Lz4.decompress)
    sweep("lz4-legacy", fixture("/lz4/legacy.lz4"), Lz4.decompress)
  }

  test("snappy terminates on all truncations and bit flips (raw, framed, hadoop)") {
    val data = ("snappy sweep payload " * 200).getBytes("US-ASCII")
    sweep("snappy-raw", org.xerial.snappy.Snappy.compress(data), Snappy.decodeRaw(_))
    val bo = new java.io.ByteArrayOutputStream()
    val fo = new org.xerial.snappy.SnappyFramedOutputStream(bo)
    fo.write(data); fo.close()
    sweep("snappy-framed", bo.toByteArray, Snappy.decompressFramed)
    val raw = org.xerial.snappy.Snappy.compress(data)
    val had = new java.io.ByteArrayOutputStream()
    for (v <- Seq(data.length, raw.length)) {
      had.write((v >>> 24) & 0xff); had.write((v >>> 16) & 0xff)
      had.write((v >>> 8) & 0xff); had.write(v & 0xff)
    }
    had.write(raw, 0, raw.length)
    sweep("snappy-hadoop", had.toByteArray, Snappy.decodeHadoop)
  }

  test("lzw .Z terminates on all truncations and bit flips") {
    sweep("lzw-small", fixture("/lzw_z/small_text.Z"), LzwZ.decompress)
    sweep("lzw-runs", fixture("/lzw_z/runs.Z"), LzwZ.decompress)
    sweep("lzw-clears", fixture("/lzw_z/big_clears.Z").take(4000), LzwZ.decompress)
  }

  test("7z terminates on all truncations and bit flips") {
    // a REAL commons-compress LZMA2 archive built at test time
    val tmp = java.io.File.createTempFile("sevenzrobust", ".7z")
    val bytes = try {
      val w = new org.apache.commons.compress.archivers.sevenz.SevenZOutputFile(tmp)
      val e = new org.apache.commons.compress.archivers.sevenz.SevenZArchiveEntry()
      e.setName("a.txt")
      w.putArchiveEntry(e)
      w.write(("7z sweep payload " * 200).getBytes("US-ASCII"))
      w.closeArchiveEntry(); w.close()
      java.nio.file.Files.readAllBytes(tmp.toPath)
    } finally tmp.delete()
    sweep("7z", bytes, p => {
      SevenZ.extract(p).map(_._2.length.toLong).sum; Array.emptyByteArray
    })
  }

  test("headers declaring a dictionary over Xz.MaxWindow refuse before allocating it (lzma, xz, 7z)") {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def refusesCheaply(name: String)(decode: => Any): Unit = {
      val before = threads.getCurrentThreadAllocatedBytes
      val e = intercept[IllegalArgumentException](decode)
      val allocated = threads.getCurrentThreadAllocatedBytes - before
      assert(allocated < (16L << 20), s"$name: $allocated bytes allocated before refusing (${e.getMessage})")
    }
    def crc32(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
      val c = new java.util.zip.CRC32()
      c.update(b, from, until - from)
      val v = c.getValue
      Array.tabulate[Byte](4)(i => ((v >>> (8 * i)) & 0xff).toByte)
    }
    val gib = 36.toByte // LZMA2 dictionary byte: 2^(36/2 + 12) = 1 GiB
    val payload = ("dictionary probe " * 100).getBytes("US-ASCII")

    // lzma alone: props 0x5d, a 1 GiB dictionary, unknown size, a few stream bytes
    refusesCheaply("lzma")(Xz.decompressAlone(Array[Byte](0x5d, 0, 0, 0, 0x40) ++
      Array.fill[Byte](8)(-1) ++ new Array[Byte](8)))

    // xz: a real stream whose block header's LZMA2 dictionary byte is raised (CRC32 fixed)
    val xz = {
      val b = new java.io.ByteArrayOutputStream()
      val w = new org.tukaani.xz.XZOutputStream(b, new org.tukaani.xz.LZMA2Options())
      w.write(payload); w.close(); b.toByteArray
    }
    val hEnd = 12 + ((xz(12) & 0xff) + 1) * 4 - 4
    val f = (14 until hEnd - 2).find(i => xz(i) == 0x21 && xz(i + 1) == 1).get
    xz(f + 2) = gib
    crc32(xz, 12, hEnd).copyToArray(xz, hEnd)
    refusesCheaply("xz")(Xz.decompress(xz))

    // 7z: a real LZMA2 archive whose coder property is raised (both header CRCs fixed)
    val tmp = java.io.File.createTempFile("sevenzdict", ".7z")
    val sz = try {
      val w = new org.apache.commons.compress.archivers.sevenz.SevenZOutputFile(tmp)
      val e = new org.apache.commons.compress.archivers.sevenz.SevenZArchiveEntry()
      e.setName("a.txt")
      w.putArchiveEntry(e); w.write(payload); w.closeArchiveEntry(); w.close()
      java.nio.file.Files.readAllBytes(tmp.toPath)
    } finally tmp.delete()
    val le = java.nio.ByteBuffer.wrap(sz).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val (at, end) = (32 + le.getLong(12).toInt, 32 + le.getLong(12).toInt + le.getLong(20).toInt)
    val c = (at until end - 3).find(i => sz(i) == 0x21 && sz(i + 1) == 0x21 && sz(i + 2) == 1).get
    sz(c + 3) = gib
    crc32(sz, at, end).copyToArray(sz, 28)
    crc32(sz, 12, 32).copyToArray(sz, 8)
    refusesCheaply("7z")(SevenZ.extract(sz))
  }

  test("sequencefile, cpio, ar and heif terminate on all truncations and bit flips") {
    // sequencefile (block-deflate)
    val seqBytes = {
      import org.apache.hadoop.io.{SequenceFile => HSeq, Text}
      val tmp = java.io.File.createTempFile("seqrobust", ".seq"); tmp.delete()
      val w = HSeq.createWriter(new org.apache.hadoop.conf.Configuration(),
        HSeq.Writer.file(new org.apache.hadoop.fs.Path(tmp.getAbsolutePath)),
        HSeq.Writer.keyClass(classOf[Text]), HSeq.Writer.valueClass(classOf[Text]),
        HSeq.Writer.compression(HSeq.CompressionType.BLOCK,
          new org.apache.hadoop.io.compress.DefaultCodec))
      for (i <- 0 until 50) w.append(new Text(s"k$i"), new Text(s"value $i " + ("y" * 40)))
      w.close()
      val b = java.nio.file.Files.readAllBytes(tmp.toPath)
      tmp.delete(); new java.io.File(tmp.getParent, "." + tmp.getName + ".crc").delete()
      b
    }
    sweep("seqfile", seqBytes, p => { SequenceFiles.parse(1L, p); Array.emptyByteArray })
    // cpio newc
    val cpio = {
      val bo = new java.io.ByteArrayOutputStream()
      val w = new org.apache.commons.compress.archivers.cpio.CpioArchiveOutputStream(bo)
      val d = ("cpio sweep " * 40).getBytes("US-ASCII")
      val e = new org.apache.commons.compress.archivers.cpio.CpioArchiveEntry("a.txt", d.length)
      w.putArchiveEntry(e); w.write(d); w.closeArchiveEntry(); w.close()
      bo.toByteArray
    }
    sweep("cpio", cpio, p => { Packages.cpioEntries(p); Array.emptyByteArray })
    // ar
    val ar = {
      val bo = new java.io.ByteArrayOutputStream()
      val w = new org.apache.commons.compress.archivers.ar.ArArchiveOutputStream(bo)
      val d = ("ar sweep " * 40).getBytes("US-ASCII")
      w.putArchiveEntry(new org.apache.commons.compress.archivers.ar.ArArchiveEntry("a.txt", d.length))
      w.write(d); w.closeArchiveEntry(); w.close()
      bo.toByteArray
    }
    sweep("ar", ar, p => { Packages.arEntries(p); Array.emptyByteArray })
    // heif triage
    sweep("heif", fixture("/heif/rgb_64x48.avif"), p => { Heif.triage(1L, p); Array.emptyByteArray })
  }

  test("brotli terminates on all truncations and bit flips") {
    sweep("brotli", fixture("/brotli/text_q5.br"), Brotli.decompress)
    sweep("brotli-q11", fixture("/brotli/dictwords_q11.br"), Brotli.decompress)
  }

  test("dictionary-zstd terminates on all truncations and bit flips (payload AND dictionary)") {
    val dictBytes = fixture("/zstd_dict/fixture.dict")
    val dict = Zstd.parseDictionary(dictBytes)
    sweep("zstd-dict", fixture("/zstd_dict/sample_l9.zst"), p => Zstd.decompress(p, dict))
    // corrupting the DICTIONARY itself must also stay bounded: parse
    // either refuses or yields a dict whose use refuses/terminates
    val payload = fixture("/zstd_dict/tiny.zst")
    sweep("zstd-dict-file", dictBytes, { d =>
      Zstd.decompress(payload, Zstd.parseDictionary(d))
    })
  }
}
