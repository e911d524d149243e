package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZMethod, SevenZMethodConfiguration, SevenZOutputFile}

/** Golden validation of the 7z reader (commons-compress's SevenZFile
  * under the repo's wrapper) against REAL archives written by
  * commons-compress's SevenZOutputFile (LZMA/LZMA2 via xz-java) —
  * coder matrix, multi-file splits, empty files, directories, an
  * encoded-header re-mux, and refusal by name. */
class SevenZSpec extends AnyFunSuite {

  private def lcgWords(n: Int): String = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    var x = 42L
    Seq.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      words(java.lang.Long.remainderUnsigned(x >>> 33, 10L).toInt)
    }.mkString(" ")
  }

  private def write7z(method: SevenZMethod,
      entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val tmp = java.io.File.createTempFile("sevenzspec", ".7z")
    try {
      val w = new SevenZOutputFile(tmp)
      w.setContentCompression(method)
      for ((name, data) <- entries) {
        val e = new SevenZArchiveEntry()
        e.setName(name)
        w.putArchiveEntry(e)
        w.write(data)
        w.closeArchiveEntry()
      }
      w.close()
      java.nio.file.Files.readAllBytes(tmp.toPath)
    } finally tmp.delete()
  }

  private val corpus = Seq(
    ("docs/readme.txt", s"hello 7z world. ${lcgWords(200)}".getBytes("US-ASCII")),
    ("data/words.txt", lcgWords(5000).getBytes("US-ASCII")),
    ("small name with spaces.txt", "payload".getBytes("US-ASCII")))

  private def check(method: SevenZMethod, name: String): Unit = {
    val got = SevenZ.extract(write7z(method, corpus))
    assert(got.map(_._1) == corpus.map(_._1), s"$name: names")
    got.zip(corpus).foreach { case ((_, g), (n, want)) =>
      assert(java.util.Arrays.equals(g, want), s"$name: $n content")
    }
  }

  test("LZMA2 archive (the 7-Zip default)") { check(SevenZMethod.LZMA2, "lzma2") }
  test("LZMA archive") { check(SevenZMethod.LZMA, "lzma") }
  test("COPY archive") { check(SevenZMethod.COPY, "copy") }
  test("BZIP2 archive") { check(SevenZMethod.BZIP2, "bzip2") }
  test("DEFLATE archive") { check(SevenZMethod.DEFLATE, "deflate") }

  test("extracting LZMA and LZMA2 archives again stays byte-exact (dictionaries reused)") {
    // a 64 KiB dictionary that the payload wraps, so the first extract
    // leaves every byte of the reused dictionary array written
    val data = lcgWords(30000).getBytes("US-ASCII")
    for (m <- Seq(SevenZMethod.LZMA, SevenZMethod.LZMA2)) {
      val o = new org.tukaani.xz.LZMA2Options()
      o.setDictSize(1 << 16)
      val tmp = java.io.File.createTempFile("sevenzspec", ".7z")
      val archive = try {
        val w = new SevenZOutputFile(tmp)
        w.setContentMethods(java.util.Arrays.asList(new SevenZMethodConfiguration(m, o)))
        val e = new SevenZArchiveEntry(); e.setName("words.txt")
        w.putArchiveEntry(e); w.write(data); w.closeArchiveEntry(); w.close()
        java.nio.file.Files.readAllBytes(tmp.toPath)
      } finally tmp.delete()
      for (i <- 0 until 3)
        assert(java.util.Arrays.equals(SevenZ.extract(archive).head._2, data), s"$m: extract $i")
    }
  }

  test("BCJ x86 + LZMA2 filter chain") {
    // call-dense payload so the x86 converter has sites
    val code = Array.tabulate(4000)(i =>
      (if (i % 5 == 0) 0xe8 else (i * 37) & 0xff).toByte)
    val tmp = java.io.File.createTempFile("sevenzspec", ".7z")
    try {
      val w = new SevenZOutputFile(tmp)
      w.setContentMethods(java.util.Arrays.asList(
        new SevenZMethodConfiguration(SevenZMethod.BCJ_X86_FILTER),
        new SevenZMethodConfiguration(SevenZMethod.LZMA2)))
      val e = new SevenZArchiveEntry(); e.setName("code.bin")
      w.putArchiveEntry(e); w.write(code); w.closeArchiveEntry(); w.close()
      val got = SevenZ.extract(java.nio.file.Files.readAllBytes(tmp.toPath))
      assert(got.map(_._1) == Seq("code.bin"))
      assert(java.util.Arrays.equals(got.head._2, code))
    } finally tmp.delete()
  }

  test("delta + LZMA2 filter chain") {
    val wave = Array.tabulate(10000)(i => ((i * 3) & 0xff).toByte)
    val tmp = java.io.File.createTempFile("sevenzspec", ".7z")
    try {
      val w = new SevenZOutputFile(tmp)
      w.setContentMethods(java.util.Arrays.asList(
        new SevenZMethodConfiguration(SevenZMethod.DELTA_FILTER, Integer.valueOf(4)),
        new SevenZMethodConfiguration(SevenZMethod.LZMA2)))
      val e = new SevenZArchiveEntry(); e.setName("wave.bin")
      w.putArchiveEntry(e); w.write(wave); w.closeArchiveEntry(); w.close()
      val got = SevenZ.extract(java.nio.file.Files.readAllBytes(tmp.toPath))
      assert(java.util.Arrays.equals(got.head._2, wave))
    } finally tmp.delete()
  }

  test("empty files and directories") {
    val tmp = java.io.File.createTempFile("sevenzspec", ".7z")
    try {
      val w = new SevenZOutputFile(tmp)
      val dir = new SevenZArchiveEntry(); dir.setName("sub"); dir.setDirectory(true)
      w.putArchiveEntry(dir); w.closeArchiveEntry()
      val empty = new SevenZArchiveEntry(); empty.setName("sub/empty.txt")
      w.putArchiveEntry(empty); w.closeArchiveEntry()
      val full = new SevenZArchiveEntry(); full.setName("sub/full.txt")
      w.putArchiveEntry(full); w.write("x".getBytes); w.closeArchiveEntry()
      w.close()
      val got = SevenZ.extract(java.nio.file.Files.readAllBytes(tmp.toPath))
      // directory skipped; empty file kept as zero bytes
      assert(got.map(_._1) == Seq("sub/empty.txt", "sub/full.txt"))
      assert(got.head._2.isEmpty && got(1)._2.length == 1)
    } finally tmp.delete()
  }

  test("7z routes through the archive sniff") {
    val z = write7z(SevenZMethod.LZMA2, Seq(("a.txt", "alpha".getBytes("US-ASCII"))))
    val got = Archives.autoEntries(z)
    assert(got.map(_._1) == Seq("a.txt"))
    assert(new String(got.head._2, "US-ASCII") == "alpha")
  }

  test("kEncodedHeader archives (the form real 7-Zip writes) decode") {
    // commons-compress writes plain headers; re-mux one into the
    // encoded-header form using xz-java's reference LZMA encoder as
    // harness: the header becomes an LZMA folder the reader must
    // decode before parsing — exactly real 7-Zip's layout
    val plain = write7z(SevenZMethod.LZMA2, corpus)
    def u64le(i: Int): Long = (0 until 8).map(k => (plain(i + k) & 0xffL) << (8 * k)).sum
    val nhOfs = u64le(12)
    val nhSize = u64le(20)
    val hdr = java.util.Arrays.copyOfRange(plain, (32 + nhOfs).toInt, (32 + nhOfs + nhSize).toInt)

    // compress the header with reference LZMA (known size, no end marker)
    val opts = new org.tukaani.xz.LZMA2Options()
    opts.setDictSize(1 << 16)
    val bo = new java.io.ByteArrayOutputStream()
    val lo = new org.tukaani.xz.LZMAOutputStream(bo, opts, hdr.length.toLong)
    lo.write(hdr); lo.finish()
    // the .lzma-format constructor writes a 13-byte alone header:
    // its first 5 bytes ARE the 7z coder props; the raw stream follows
    val aloneOut = bo.toByteArray
    val props = java.util.Arrays.copyOf(aloneOut, 5)
    val packedHdr = java.util.Arrays.copyOfRange(aloneOut, 13, aloneOut.length)

    def vnum(v: Long): Array[Byte] = {
      // 7z number encoding: enough lead bits for the magnitude
      if (v < 0x80) Array(v.toByte)
      else {
        var n = 0
        while (n < 8 && (v >>> (7 - n + 8 * n)) != 0) n += 1 // bytes needed beyond lead
        // simple general form: full 8-byte tail
        Array(0xff.toByte) ++ (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte)
      }
    }
    val crcOfHdr = { val c = new java.util.zip.CRC32(); c.update(hdr); c.getValue.toInt }
    val info = new java.io.ByteArrayOutputStream()
    def w(bs: Array[Byte]): Unit = info.write(bs, 0, bs.length)
    w(Array[Byte](0x17)) // kEncodedHeader
    w(Array[Byte](0x06)); w(vnum(nhOfs)); w(vnum(1)) // PackInfo: pos, 1 stream
    w(Array[Byte](0x09)); w(vnum(packedHdr.length.toLong)); w(Array[Byte](0x00))
    w(Array[Byte](0x07, 0x0b)); w(vnum(1)); w(Array[Byte](0x00)) // UnpackInfo, 1 folder, internal
    w(vnum(1)) // one coder
    w(Array[Byte](0x23, 0x03, 0x01, 0x01)) // flags: idSize 3 + attrs; LZMA id
    w(vnum(5)); w(props)
    w(Array[Byte](0x0c)); w(vnum(hdr.length.toLong)) // CodersUnpackSize
    w(Array[Byte](0x0a, 0x01)) // kCRC, all defined
    w((0 until 4).map(i => ((crcOfHdr >>> (8 * i)) & 0xff).toByte).toArray)
    w(Array[Byte](0x00, 0x00)) // end UnpackInfo, end StreamsInfo
    val infoBytes = info.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(plain, 0, 12) // magic + version (CRC slot rewritten below)
    val newOfs = nhOfs + packedHdr.length // packed header appended after pack area
    val sh = new java.io.ByteArrayOutputStream()
    (0 until 8).foreach(i => sh.write(((newOfs >>> (8 * i)) & 0xff).toInt))
    (0 until 8).foreach(i => sh.write(((infoBytes.length.toLong >>> (8 * i)) & 0xff).toInt))
    val infoCrc = { val c = new java.util.zip.CRC32(); c.update(infoBytes); c.getValue.toInt }
    (0 until 4).foreach(i => sh.write((infoCrc >>> (8 * i)) & 0xff))
    val shBytes = sh.toByteArray
    val shCrc = { val c = new java.util.zip.CRC32(); c.update(shBytes); c.getValue.toInt }
    val full = new java.io.ByteArrayOutputStream()
    full.write(plain, 0, 8)
    (0 until 4).foreach(i => full.write((shCrc >>> (8 * i)) & 0xff))
    full.write(shBytes)
    full.write(plain, 32, nhOfs.toInt) // original pack area
    full.write(packedHdr)
    full.write(infoBytes)

    val got = SevenZ.extract(full.toByteArray)
    assert(got.map(_._1) == corpus.map(_._1))
    got.zip(corpus).foreach { case ((_, g), (n, want)) =>
      assert(java.util.Arrays.equals(g, want), s"encoded-header: $n")
    }
  }

  test("unknown coder id refuses by name (patched header)") {
    // patch the LZMA2 coder id byte (0x21) in a plain-header archive
    // to an unassigned id; the reader must refuse naming it
    val z = write7z(SevenZMethod.LZMA2, Seq(("a.txt", "alpha".getBytes)))
    def u64le(i: Int): Long = (0 until 8).map(k => (z(i + k) & 0xffL) << (8 * k)).sum
    val hdrStart = (32 + u64le(12)).toInt
    // find the coder-id byte: flags 0x21 (idSize1+attrs) followed by id 0x21
    var at = hdrStart
    var found = -1
    while (found < 0 && at < z.length - 1) {
      if ((z(at) & 0xff) == 0x21 && (z(at + 1) & 0xff) == 0x21) found = at + 1
      at += 1
    }
    assert(found > 0, "no LZMA2 coder id found in header")
    val mut = z.clone()
    mut(found) = 0x7e
    // header CRC now mismatches — recompute it so the parse reaches the coder
    val nhOfs = u64le(12); val nhSize = u64le(20)
    val c = new java.util.zip.CRC32(); c.update(mut, hdrStart, nhSize.toInt)
    val crc = c.getValue.toInt
    (0 until 4).foreach(i => mut(28 + i) = ((crc >>> (8 * i)) & 0xff).toByte)
    val sc = new java.util.zip.CRC32(); sc.update(mut, 12, 20)
    val scrc = sc.getValue.toInt
    (0 until 4).foreach(i => mut(8 + i) = ((scrc >>> (8 * i)) & 0xff).toByte)
    val e = intercept[IllegalArgumentException](SevenZ.extract(mut))
    assert(e.getMessage.contains("unsupported"), e.getMessage)
  }

  test("corrupt archives refuse: flipped payload bit, truncation, bad magic") {
    intercept[IllegalArgumentException](SevenZ.extract("not a seven z!!!".getBytes ++ new Array[Byte](32)))
    val z = write7z(SevenZMethod.LZMA2, corpus)
    val flipped = z.clone()
    flipped(40) = (flipped(40) ^ 0x10).toByte // inside packed data
    intercept[Exception](SevenZ.extract(flipped))
    for (cut <- Seq(10, 31, 40, z.length / 2, z.length - 4))
      intercept[Exception](SevenZ.extract(java.util.Arrays.copyOf(z, cut)))
  }
}
