package graft.sources

import org.apache.commons.compress.archivers.{ArchiveEntry, ArchiveInputStream}
import org.apache.commons.compress.archivers.ar.ArArchiveInputStream
import org.apache.commons.compress.archivers.cpio.CpioArchiveInputStream

/** Software-package containers — `ar` (the Debian `.deb` outer shell),
  * `cpio` (the RPM payload format, also initramfs) and the RPM outer
  * framing. Distro packages are a routine corpus source for code/text
  * datasets (source files, docs, changelogs ship in every
  * `data.tar.*`):
  *
  *  - **ar** and **cpio** are read by commons-compress 1.28 (on the
  *    Spark classpath): ar with GNU (`//` table, `/offset`) and BSD
  *    (`#1/len`) long names; the ASCII cpio variants `newc` (070701),
  *    `crc` (070702, payload byte-sum checksum verified) and `odc`
  *    (070707), ending at `TRAILER!!!`. The wrapper adds the magic
  *    sniff, the entry filter (regular files only; the GNU symbol
  *    table skipped), a short-read check on every entry, and refusals
  *    as `IllegalArgumentException`. A `.deb` is exactly
  *    `debian-binary` + `control.tar.*` + `data.tar.*` inside ar —
  *    [[Archives.autoEntries]] recursion unpacks the inner tars.
  *  - **rpm**: lead, signature and main headers per the public rpmlib
  *    layout, then the compressed cpio payload.
  *
  * Golden validation: `PackagesSpec` writes REAL archives with
  * commons-compress's ArArchiveOutputStream / CpioArchiveOutputStream
  * (newc, odc and crc formats) and pins the entries byte-exact,
  * including a full `.deb`-shaped chain (ar → data.tar.zst → text). */
object Packages {

  // ---------------------------------------------------------------- ar

  final val ArMagic: Array[Byte] = "!<arch>\n".getBytes("US-ASCII")

  def isAr(p: Array[Byte]): Boolean =
    p.length >= 8 && (0 until 8).forall(i => p(i) == ArMagic(i))

  /** All regular entries of an ar archive (GNU + BSD name quirks). */
  def arEntries(p: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(isAr(p), "ar: bad global magic")
    read("ar", new ArArchiveInputStream(new java.io.ByteArrayInputStream(p)))(_.getName.nonEmpty)
  }

  // -------------------------------------------------------------- cpio

  def isCpio(p: Array[Byte]): Boolean =
    p.length >= 6 && {
      val m = new String(p, 0, 6, "US-ASCII")
      m == "070701" || m == "070702" || m == "070707"
    }

  /** All regular-file entries of an ASCII cpio archive (newc / crc /
    * odc), with crc-format payload checksums verified. */
  def cpioEntries(p: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(isCpio(p), "cpio: bad magic (only ASCII newc/crc/odc)")
    read("cpio", new CpioArchiveInputStream(new java.io.ByteArrayInputStream(p)))(_.isRegularFile)
  }

  /** Every entry `keep` accepts, each read in full (a library stream
    * checks entry checksums on the entry's last byte). */
  private def read[E <: ArchiveEntry](codec: String, in: ArchiveInputStream[E])(
      keep: E => Boolean): Seq[(String, Array[Byte])] =
    Streams.refusing(codec) {
      try {
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
        var e = in.getNextEntry
        while (e != null) {
          if (keep(e)) {
            val data = in.readAllBytes()
            require(data.length == e.getSize, s"$codec: entry '${e.getName}' truncated")
            out += ((e.getName, data))
          }
          e = in.getNextEntry
        }
        out.toSeq
      } finally in.close()
    }

  // --------------------------------------------------------------- rpm

  /** RPM outer framing (public rpmlib layout): 96-byte lead
    * (magic 0xedabeedb, version, type, arch, name[66], os, sig type),
    * a signature header padded to 8 bytes, the main header, then the
    * compressed cpio payload. Headers are `0x8eade801` index
    * structures: [magic 4][reserved 4][nindex u32][hsize u32] +
    * nindex×16 index entries + hsize data bytes, all big-endian. */
  def isRpm(p: Array[Byte]): Boolean =
    p.length >= 96 && (p(0) & 0xff) == 0xed && (p(1) & 0xff) == 0xab &&
      (p(2) & 0xff) == 0xee && (p(3) & 0xff) == 0xdb

  /** Package name (from the lead), payload compressor tag, and the
    * decompressed cpio payload bytes. */
  def rpmPayload(p: Array[Byte]): (String, String, Array[Byte]) = {
    @inline def u32(i: Int): Long =
      ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) | ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
    require(isRpm(p), "rpm: bad lead magic")
    require((p(4) & 0xff) >= 3, s"rpm: unsupported format version ${p(4) & 0xff}")
    var nameEnd = 10
    while (nameEnd < 76 && p(nameEnd) != 0) nameEnd += 1
    val name = new String(p, 10, nameEnd - 10, "US-ASCII")
    // header walk: returns (string tags we care about, end offset)
    def header(at: Int): (Map[Int, String], Int) = {
      require(at + 16 <= p.length, "rpm: truncated header")
      require(u32(at) == 0x8eade801L, f"rpm: bad header magic at $at (0x${u32(at)}%08x)")
      val nindex = u32(at + 8)
      val hsize = u32(at + 12)
      require(nindex >= 0 && nindex <= 65536 && hsize >= 0 && hsize <= (64 << 20),
        "rpm: header counts out of range")
      val dataAt = at + 16 + 16 * nindex.toInt
      val end = dataAt + hsize.toInt
      require(end <= p.length, "rpm: header overruns file")
      var tags = Map.empty[Int, String]
      var i = 0
      while (i < nindex) {
        val e = at + 16 + 16 * i
        val tag = u32(e).toInt
        val typ = u32(e + 4).toInt
        val off = u32(e + 8).toInt
        if (typ == 6 && off >= 0 && dataAt + off < end) { // STRING
          var z = dataAt + off
          while (z < end && p(z) != 0) z += 1
          tags += (tag -> new String(p, dataAt + off, z - (dataAt + off), "UTF-8"))
        }
        i += 1
      }
      (tags, end)
    }
    val (_, sigEnd) = header(96)
    val mainAt = (sigEnd + 7) & ~7 // signature header pads to 8
    val (tags, hdrEnd) = header(mainAt)
    val format = tags.getOrElse(1124, "cpio")
    require(format == "cpio", s"rpm: payload format '$format' unsupported (cpio only)")
    val compressor = tags.getOrElse(1125, "gzip")
    val payload = java.util.Arrays.copyOfRange(p, hdrEnd, p.length)
    val cpio = compressor match {
      case "gzip" => Gzip.decompress(payload)
      case "xz" | "lzma" => Xz.decompress(payload)
      case "zstd" => Zstd.decompress(payload)
      case "bzip2" => Bzip2.decompress(payload)
      case c => throw new IllegalArgumentException(s"rpm: payload compressor '$c' unsupported")
    }
    (name, compressor, cpio)
  }

  /** rpm → cpio file entries (the `./`-prefixed names as stored). */
  def rpmEntries(p: Array[Byte]): Seq[(String, Array[Byte])] =
    cpioEntries(rpmPayload(p)._3)

  /** RPM fixture encoder: a minimal-but-valid lead + empty-ish
    * signature header + main header carrying the payload format and
    * compressor string tags, wrapping a gzip'd cpio. Dev/gate-time
    * producer for the reader above (no rpm writer exists on the
    * classpath); every field follows the public layout. */
  def encodeRpm(name: String, cpio: Array[Byte], compressor: String = "gzip"): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    // lead
    u32(0xedabeedbL); out.write(3); out.write(0) // version 3.0
    u16(0) // type: binary
    u16(1) // arch
    val nb = name.getBytes("US-ASCII")
    val nameField = java.util.Arrays.copyOf(nb, 66)
    out.write(nameField)
    u16(1)  // os
    u16(5)  // signature type: header-style
    out.write(new Array[Byte](16)) // reserved
    require(out.size == 96, "rpm lead must be 96 bytes")
    def header(tags: Seq[(Int, String)]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      def bu32(v: Long): Unit = {
        b.write(((v >>> 24) & 0xff).toInt); b.write(((v >>> 16) & 0xff).toInt)
        b.write(((v >>> 8) & 0xff).toInt); b.write((v & 0xff).toInt)
      }
      val data = new java.io.ByteArrayOutputStream()
      val idx = tags.map { case (tag, value) =>
        val off = data.size
        data.write(value.getBytes("UTF-8")); data.write(0)
        (tag, off)
      }
      bu32(0x8eade801L); bu32(0)
      bu32(idx.size.toLong); bu32(data.size.toLong)
      idx.foreach { case (tag, off) =>
        bu32(tag.toLong); bu32(6L); bu32(off.toLong); bu32(1L)
      }
      b.write(data.toByteArray)
      b.toByteArray
    }
    val sig = header(Seq(1000 -> "0")) // a throwaway string tag
    out.write(sig)
    var pad = (8 - (out.size % 8)) % 8
    out.write(new Array[Byte](pad))
    out.write(header(Seq(1000 -> name, 1124 -> "cpio", 1125 -> compressor)))
    val comp = compressor match {
      case "gzip" =>
        val b = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(b)
        g.write(cpio); g.close()
        b.toByteArray
      case "zstd" => Zstd.encodeRawFrames(cpio)
      case c => throw new IllegalArgumentException(s"rpm encoder: compressor '$c'")
    }
    out.write(comp)
    out.toByteArray
  }
}
