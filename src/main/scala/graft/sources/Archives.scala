package graft.sources

import org.apache.spark.sql.Dataset

/** Archive containers — the other half of document-dump ingest beside
  * [[Warc]]: corpora ship as `.tar`, `.tar.gz` and `.zip` by the
  * millions. Pure JVM:
  *
  *  - tar (ustar): 512-byte headers (octal size field, NUL-padded
  *    names + optional ustar prefix field), data padded to block size,
  *    two zero blocks end the archive; only regular files surface
  *    (directories and link entries are skipped);
  *  - zip: End-Of-Central-Directory scan from the tail, central
  *    directory walk (PK\x01\x02), local headers re-read per entry
  *    (PK\x03\x04 — local name/extra lengths differ from central
  *    ones); methods 0 (store) and 8 (deflate, raw `Inflater`);
  *    zip64 archives (EOCD64 locator + record, 0x0001 extended-info
  *    extra fields) parse natively — routine for >4 GiB dump
  *    distribution — with members past the 2 GiB in-memory extraction
  *    limit refusing loudly; ZipCrypto entries decrypt when the
  *    caller supplies the password (check byte + full CRC-32
  *    verified, APPNOTE §6.1), refuse loudly otherwise; AES/strong
  *    encryption refuses by name;
  *  - gzip: members unwrapped transparently, so `.tar.gz` needs no
  *    special casing — [[autoEntries]] dispatches by magic and
  *    recurses once after gunzip.
  *
  * Spark shape: [[entries]] is a map-only flatMap over one-archive
  * rows, the same contract as [[Warc.records]] / [[Pdf.texts]]:
  * embarrassingly parallel, zero exchange, corrupt archives
  * quarantine to a marker row under `keepCorrupt`. */
object Archives {

  case class ArchiveFile(id: Long, bytes: Array[Byte])

  /** One extracted entry; `error` null unless a quarantine marker
    * (entry null, payload null). */
  case class ArchiveEntry(id: Long, entry: String, payload: Array[Byte], error: String)

  // --------------------------------------------------------------- tar

  def tarEntries(p: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(p.length >= 512, "tar: shorter than one header block")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var at = 0
    def str(off: Int, len: Int): String = {
      var e = off
      while (e < off + len && p(e) != 0) e += 1
      new String(p, off, e - off, "ISO-8859-1")
    }
    while (at + 512 <= p.length && !(0 until 512).forall(i => p(at + i) == 0)) {
      val name = str(at, 100)
      val sizeStr = str(at + 124, 12).trim
      require(sizeStr.nonEmpty && sizeStr.forall(c => c >= '0' && c <= '7'),
        s"tar: bad size field for '$name'")
      val size = java.lang.Long.parseLong(sizeStr, 8).toInt
      val typeflag = p(at + 156).toChar
      val magic = str(at + 257, 5)
      val prefix = if (magic == "ustar") str(at + 345, 155) else ""
      val full = if (prefix.nonEmpty) s"$prefix/$name" else name
      require(at + 512 + size <= p.length, s"tar: entry '$full' truncated")
      if (typeflag == '0' || typeflag == 0.toChar) // regular file
        out += ((full, java.util.Arrays.copyOfRange(p, at + 512, at + 512 + size)))
      at += 512 + ((size + 511) / 512) * 512
    }
    out.toSeq
  }

  /** ustar fixture encoder (regular files only). */
  def encodeTar(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      require(name.length <= 100, s"tar fixture: name too long: $name")
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes("ISO-8859-1"); System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name)
      put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
      put(124, f"${data.length}%011o"); put(136, "00000000000")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum spaces for the sum
      h(156) = '0'
      put(257, "ustar"); h(263) = 0; put(265, "00")
      val sum = h.map(_ & 0xff).sum
      put(148, f"$sum%06o"); h(154) = 0; h(155) = ' '.toByte
      out.write(h)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // two zero blocks
    out.toByteArray
  }

  // --------------------------------------------------------------- zip

  /** ZipCrypto — PKWARE traditional encryption (APPNOTE.TXT §6.1, a
    * PUBLIC spec): three rolling keys seeded from the password, a
    * CRC-32-table byte update, and the `((t*(t^1))>>8)&0xff` stream
    * byte with `t = key2|2`. The 12-byte entry header's last byte is
    * the password check: the CRC-32 high byte (or the DOS-time high
    * byte when general-purpose bit 3 declares a data descriptor).
    * Weak by modern standards but endemic in old dump archives —
    * decrypt when the caller supplies the password, refuse loudly
    * otherwise (never silent garbage). */
  private object ZipCrypto {
    private val crcTable: Array[Int] = Array.tabulate(256) { n =>
      var c = n
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0xedb88320 ^ (c >>> 1) else c >>> 1; k += 1 }
      c
    }

    final class Keys(password: Array[Byte]) {
      private var k0 = 0x12345678
      private var k1 = 0x23456789
      private var k2 = 0x34567890
      password.foreach(b => update(b.toInt))
      @inline private def crc(v: Int, c: Int): Int = (v >>> 8) ^ crcTable((v ^ c) & 0xff)
      @inline def update(plain: Int): Unit = {
        k0 = crc(k0, plain)
        k1 = (k1 + (k0 & 0xff)) * 134775813 + 1
        k2 = crc(k2, k1 >>> 24)
      }
      @inline def decryptByte(cipher: Int): Int = {
        val t = (k2 | 2) & 0xffff
        val plain = (cipher ^ ((t * (t ^ 1)) >>> 8)) & 0xff
        update(plain)
        plain
      }
    }

    /** Decrypt `src` in place-copy; verify the 12-byte header's check
      * byte against `checkByte` (crc>>24, or DOS-time>>8 under bit 3). */
    def decrypt(src: Array[Byte], password: String, checkByte: Int, name: String): Array[Byte] = {
      require(src.length >= 12, s"zip: encrypted entry '$name' shorter than its ZipCrypto header")
      val keys = new Keys(password.getBytes("ISO-8859-1"))
      var last = 0
      var i = 0
      while (i < 12) { last = keys.decryptByte(src(i) & 0xff); i += 1 }
      require(last == (checkByte & 0xff),
        s"zip: wrong password for entry '$name' (ZipCrypto check byte mismatch)")
      val out = new Array[Byte](src.length - 12)
      while (i < src.length) { out(i - 12) = keys.decryptByte(src(i) & 0xff).toByte; i += 1 }
      out
    }
  }

  def zipEntries(p: Array[Byte]): Seq[(String, Array[Byte])] = zipEntries(p, None)

  def zipEntries(p: Array[Byte], password: Option[String]): Seq[(String, Array[Byte])] = {
    def u16(i: Int): Int = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
    def u32(i: Int): Long = (u16(i) | (u16(i + 2).toLong << 16)) & 0xffffffffL
    def u64(i: Int): Long = u32(i) | (u32(i + 4) << 32)
    // EOCD: scan back for PK\x05\x06 (comment may follow)
    var e = p.length - 22
    while (e >= 0 && !(p(e) == 'P' && p(e + 1) == 'K' && p(e + 2) == 5 && p(e + 3) == 6)) e -= 1
    require(e >= 0, "zip: no end-of-central-directory record")
    var count: Long = u16(e + 10)
    var cdL: Long = u32(e + 16)
    // Zip64 (APPNOTE §4.3.14-15): sentinel 0xffff/0xffffffff in the EOCD
    // routes through the EOCD64 locator (PK\x06\x07, fixed 20 bytes,
    // immediately before the EOCD) to the EOCD64 record (PK\x06\x06)
    // carrying the real 64-bit entry count and central-directory offset.
    if (count == 0xffffL || cdL == 0xffffffffL) {
      val loc = e - 20
      require(loc >= 0 && u32(loc) == 0x07064b50L, "zip: zip64 sentinel but no EOCD64 locator")
      val z64 = u64(loc + 8)
      require(z64 >= 0 && z64 + 56 <= p.length && z64 <= Int.MaxValue.toLong,
        "zip: zip64 EOCD record out of range")
      val z = z64.toInt
      require(u32(z) == 0x06064b50L, "zip: bad zip64 EOCD record")
      count = u64(z + 32)
      cdL = u64(z + 48)
    }
    require(cdL <= Int.MaxValue.toLong && count <= Int.MaxValue.toLong,
      "zip: central directory beyond in-memory extraction limit (2 GiB)")
    var cd = cdL.toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var k = 0L
    while (k < count) {
      require(u32(cd) == 0x02014b50L, "zip: bad central directory entry")
      val flags = u16(cd + 8)
      val encrypted = (flags & 0x1) != 0
      require(!encrypted || password.isDefined,
        "zip: encrypted entries unsupported without a password")
      require((flags & 0x40) == 0, "zip: strong encryption unsupported")
      val method = u16(cd + 10)
      require(!encrypted || method == 0 || method == 8,
        s"zip: encrypted method $method unsupported (AES extra-field encryption refused)")
      var csizeL = u32(cd + 20)
      var usizeL = u32(cd + 24)
      val nameLen = u16(cd + 28)
      val extraLen = u16(cd + 30)
      val commentLen = u16(cd + 32)
      var lhoL = u32(cd + 42)
      val name = new String(p, cd + 46, nameLen, "UTF-8")
      // Zip64 extended-information extra field (header id 0x0001): holds,
      // in order, ONLY the fields whose 32-bit slots carry the sentinel
      if (csizeL == 0xffffffffL || usizeL == 0xffffffffL || lhoL == 0xffffffffL) {
        var x = cd + 46 + nameLen
        val xEnd = x + extraLen
        var found = false
        while (x + 4 <= xEnd && !found) {
          val hid = u16(x); val hlen = u16(x + 2)
          if (hid == 0x0001) {
            var q = x + 4
            if (usizeL == 0xffffffffL) { usizeL = u64(q); q += 8 }
            if (csizeL == 0xffffffffL) { csizeL = u64(q); q += 8 }
            if (lhoL == 0xffffffffL) { lhoL = u64(q); q += 8 }
            require(q <= x + 4 + hlen, s"zip: zip64 extra field too short in '$name'")
            found = true
          } else x += 4 + hlen
        }
        require(found, s"zip: zip64 sizes promised but no zip64 extra field in '$name'")
      }
      // members are extracted into byte arrays: a member genuinely past
      // 2 GiB refuses loudly rather than corrupting silently
      require(csizeL <= Int.MaxValue.toLong && usizeL <= Int.MaxValue.toLong &&
        lhoL <= Int.MaxValue.toLong - 30,
        s"zip: member '$name' exceeds in-memory extraction limit (2 GiB)")
      val csize = csizeL.toInt
      val usize = usizeL.toInt
      val lho = lhoL.toInt
      require(u32(lho) == 0x04034b50L, s"zip: bad local header for '$name'")
      val dataAt = lho + 30 + u16(lho + 26) + u16(lho + 28)
      require(dataAt + csize <= p.length, s"zip: entry '$name' truncated")
      val compRaw = java.util.Arrays.copyOfRange(p, dataAt, dataAt + csize)
      val comp =
        if (!encrypted || name.endsWith("/")) compRaw
        else {
          // check byte: CRC-32 high byte, or DOS-time high byte when
          // bit 3 says sizes/CRC trail in a data descriptor
          val check = if ((flags & 0x8) != 0) (u16(cd + 12) >>> 8) & 0xff
                      else ((u32(cd + 16) >>> 24) & 0xff).toInt
          ZipCrypto.decrypt(compRaw, password.get, check, name)
        }
      if (!name.endsWith("/")) { // skip directory entries
        val data = method match {
          case 0 => comp
          case 8 =>
            val inf = new java.util.zip.Inflater(true) // raw deflate
            inf.setInput(comp)
            val buf = new Array[Byte](usize)
            var filled = 0
            while (filled < usize && !inf.finished()) {
              val n = inf.inflate(buf, filled, usize - filled)
              require(n > 0 || inf.finished(), s"zip: bad deflate stream in '$name'")
              filled += n
            }
            inf.end()
            require(filled == usize, s"zip: entry '$name' short")
            buf
          case 14 =>
            // APPNOTE 5.8 LZMA: [2B SDK version][2B LE props size][props]
            // then the raw LZMA stream; general-purpose bit 1 declares an
            // end-of-stream marker (size then comes from the marker, not
            // the directory). Decoded by synthesizing an .lzma alone
            // header for [[Xz.decompressAlone]].
            require(comp.length >= 9, s"zip: truncated LZMA entry header in '$name'")
            val propSize = (comp(2) & 0xff) | ((comp(3) & 0xff) << 8)
            require(propSize == 5, s"zip: LZMA properties size $propSize != 5 in '$name'")
            val eos = (flags & 0x2) != 0
            val sz = if (eos) -1L else usize.toLong
            val hdr = new Array[Byte](13)
            System.arraycopy(comp, 4, hdr, 0, 5)
            var i = 0
            while (i < 8) { hdr(5 + i) = ((sz >>> (8 * i)) & 0xff).toByte; i += 1 }
            val out = Xz.decompressAlone(hdr ++ java.util.Arrays.copyOfRange(comp, 9, comp.length))
            require(out.length == usize, s"zip: LZMA entry '$name' size mismatch")
            out
          case m => throw new IllegalArgumentException(s"zip: method $m unsupported in '$name'")
        }
        if (encrypted) {
          // the 8-bit check byte false-accepts 1/256 wrong passwords;
          // the full CRC-32 of the decompressed entry settles it. The
          // central directory carries the real CRC even when bit 3 defers
          // the local-header copy to a data descriptor, so verify always.
          require(data.length == usize, s"zip: encrypted entry '$name' size mismatch")
          val c = new java.util.zip.CRC32()
          c.update(data)
          require(c.getValue == u32(cd + 16),
            s"zip: wrong password for entry '$name' (CRC-32 mismatch after decrypt)")
        }
        out += ((name, data))
      }
      cd += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    out.toSeq
  }

  /** zip fixture encoder for METHOD 14 (LZMA) entries, APPNOTE 5.8:
    * entry data = [2B SDK version][2B LE props size=5][5B props][raw
    * LZMA stream], compressed with the classpath xz-java encoder (the
    * .lzma alone header it writes is split into the props field). With
    * `eos` the stream carries an end-of-stream marker and the
    * general-purpose bit 1 is set (sizes then come from the marker). */
  def encodeZipLzma(entries: Seq[(String, Array[Byte])], eos: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    val central = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Int, Int)]
    val flags = if (eos) 2 else 0
    entries.foreach { case (name, data) =>
      val crc = { val c = new java.util.zip.CRC32(); c.update(data); c.getValue.toInt }
      val alone = {
        val b = new java.io.ByteArrayOutputStream()
        val opts = new org.tukaani.xz.LZMA2Options()
        val lz = new org.tukaani.xz.LZMAOutputStream(b, opts, if (eos) -1L else data.length.toLong)
        lz.write(data); lz.finish()
        b.toByteArray
      }
      val comp = new java.io.ByteArrayOutputStream()
      comp.write(9); comp.write(20)      // SDK version 9.20
      comp.write(5); comp.write(0)       // properties size
      comp.write(alone, 0, 5)            // props byte + dict size
      comp.write(alone, 13, alone.length - 13)
      val cb = comp.toByteArray
      val off = out.size()
      val nb = name.getBytes("UTF-8")
      le32(0x04034b50); le16(63); le16(flags); le16(14); le16(0); le16(0)
      le32(crc); le32(cb.length); le32(data.length)
      le16(nb.length); le16(0)
      out.write(nb); out.write(cb)
      central += ((name, crc, cb.length, data.length, off))
    }
    val cdAt = out.size()
    central.foreach { case (name, crc, csize, usize, off) =>
      val nb = name.getBytes("UTF-8")
      le32(0x02014b50); le16(63); le16(63); le16(flags); le16(14); le16(0); le16(0)
      le32(crc); le32(csize); le32(usize)
      le16(nb.length); le16(0); le16(0); le16(0); le16(0); le32(0); le32(off)
      out.write(nb)
    }
    val cdLen = out.size() - cdAt
    le32(0x06054b50); le16(0); le16(0); le16(central.length); le16(central.length)
    le32(cdLen); le32(cdAt); le16(0)
    out.toByteArray
  }

  /** zip fixture encoder: store or raw-deflate per entry, CRC-32,
    * central directory + EOCD. `forceZip64` writes the archive in full
    * zip64 form regardless of size — 0xffffffff/0xffff sentinels in the
    * 32/16-bit slots, zip64 extra fields on every header, EOCD64 record
    * + locator — which is how a >4 GiB dump archive arrives, synthesized
    * at test-friendly payload sizes (APPNOTE §4.5.3 explicitly allows
    * zip64 records for any size). */
  def encodeZip(entries: Seq[(String, Array[Byte])], deflate: Boolean = true,
      forceZip64: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def le64(v: Long): Unit = { le32((v & 0xffffffffL).toInt); le32((v >>> 32).toInt) }
    val central = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Int, Int, Int)]
    entries.foreach { case (name, data) =>
      val crc = { val c = new java.util.zip.CRC32(); c.update(data); c.getValue.toInt }
      val comp = if (deflate) {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(data); d.finish()
        val b = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) b.write(buf, 0, d.deflate(buf))
        d.end(); b.toByteArray
      } else data
      val method = if (deflate) 8 else 0
      val off = out.size()
      val nb = name.getBytes("UTF-8")
      if (forceZip64) {
        le32(0x04034b50); le16(45); le16(0); le16(method); le16(0); le16(0)
        le32(crc); le32(-1); le32(-1) // sentinels → zip64 extra
        le16(nb.length); le16(20)     // extra: id + len + usize + csize
        out.write(nb)
        le16(0x0001); le16(16); le64(data.length.toLong); le64(comp.length.toLong)
        out.write(comp)
      } else {
        le32(0x04034b50); le16(20); le16(0); le16(method); le16(0); le16(0)
        le32(crc); le32(comp.length); le32(data.length)
        le16(nb.length); le16(0)
        out.write(nb); out.write(comp)
      }
      central += ((name, method, crc, comp.length, data.length, off))
    }
    val cdAt = out.size()
    central.foreach { case (name, method, crc, csize, usize, off) =>
      val nb = name.getBytes("UTF-8")
      if (forceZip64) {
        le32(0x02014b50); le16(45); le16(45); le16(0); le16(method); le16(0); le16(0)
        le32(crc); le32(-1); le32(-1) // sentinels
        le16(nb.length); le16(28); le16(0); le16(0); le16(0); le32(0); le32(-1)
        out.write(nb)
        // zip64 extra: usize, csize, offset (all three were sentinels)
        le16(0x0001); le16(24); le64(usize.toLong); le64(csize.toLong); le64(off.toLong)
      } else {
        le32(0x02014b50); le16(20); le16(20); le16(0); le16(method); le16(0); le16(0)
        le32(crc); le32(csize); le32(usize)
        le16(nb.length); le16(0); le16(0); le16(0); le16(0); le32(0); le32(off)
        out.write(nb)
      }
    }
    val cdLen = out.size() - cdAt
    if (forceZip64) {
      val z64At = out.size()
      // EOCD64 record: sig, size-of-remainder (44), versions, disks,
      // counts, cd size, cd offset
      le32(0x06064b50); le64(44L); le16(45); le16(45); le32(0); le32(0)
      le64(central.length.toLong); le64(central.length.toLong)
      le64(cdLen.toLong); le64(cdAt.toLong)
      // EOCD64 locator
      le32(0x07064b50); le32(0); le64(z64At.toLong); le32(1)
      // EOCD with sentinels
      le32(0x06054b50); le16(0); le16(0); le16(0xffff); le16(0xffff)
      le32(-1); le32(-1); le16(0)
    } else {
      le32(0x06054b50); le16(0); le16(0); le16(central.length); le16(central.length)
      le32(cdLen); le32(cdAt); le16(0)
    }
    out.toByteArray
  }

  // -------------------------------------------------------------- auto

  /** Magic-sniffed walk: zip, 7z, ar and cpio directly, or tar under
    * any of the wrappers the dump ecosystem ships (gzip, zstd, bzip2,
    * xz, lz4, framed snappy, .Z — `tar.zst`, `tar.bz2`, `tar.xz` and
    * `tar.lz4` are all routine in release/dump distribution). */
  def autoEntries(p: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(p.length >= 4, "payload too short for any archive")
    if (p(0) == 'P' && p(1) == 'K') zipEntries(p)
    else if (Gzip.isGzip(p))
      autoEntries(Gzip.decompress(p)) // strict member walk
    else if ((p(0) & 0xff) == 0x28 && (p(1) & 0xff) == 0xb5 &&
      (p(2) & 0xff) == 0x2f && (p(3) & 0xff) == 0xfd)
      autoEntries(Zstd.decompress(p))
    else if (p(0) == 'B' && p(1) == 'Z' && p(2) == 'h')
      autoEntries(Bzip2.decompress(p))
    else if (p.length >= 6 && (p(0) & 0xff) == 0xfd && p(1) == '7' && p(2) == 'z' &&
      p(3) == 'X' && p(4) == 'Z' && p(5) == 0)
      autoEntries(Xz.decompress(p))
    else if ((p(0) & 0xff) == 0x04 && (p(1) & 0xff) == 0x22 &&
      (p(2) & 0xff) == 0x4d && (p(3) & 0xff) == 0x18)
      autoEntries(Lz4.decompress(p)) // .tar.lz4 (modern frame)
    else if ((p(0) & 0xff) == 0x02 && (p(1) & 0xff) == 0x21 &&
      (p(2) & 0xff) == 0x4c && (p(3) & 0xff) == 0x18)
      autoEntries(Lz4.decompress(p)) // legacy lz4 frame (lz4 -l)
    else if (Snappy.isFramed(p))
      autoEntries(Snappy.decompressFramed(p)) // .tar.sz (framed snappy)
    else if ((p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x9d)
      autoEntries(LzwZ.decompress(p)) // .tar.Z (Unix compress)
    else if (SevenZ.isSevenZ(p))
      SevenZ.extract(p) // .7z archives (entries directly, like zip)
    else if (Packages.isAr(p))
      Packages.arEntries(p) // ar archives (.deb outer shell, .a)
    else if (Packages.isCpio(p))
      Packages.cpioEntries(p) // cpio (RPM payloads, initramfs)
    else tarEntries(p)
  }

  /** Map-only entry extraction; corrupt archives quarantine to one
    * (id, null, null, error) marker row under `keepCorrupt`. */
  def entries(files: Dataset[ArchiveFile], keepCorrupt: Boolean = false): Dataset[ArchiveEntry] = {
    import files.sparkSession.implicits._
    files.flatMap { f =>
      try autoEntries(f.bytes).map { case (n, b) => ArchiveEntry(f.id, n, b, null) }
      catch {
        case scala.util.control.NonFatal(e) if keepCorrupt =>
          Seq(ArchiveEntry(f.id, null, null, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }
}
