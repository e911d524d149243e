package graft.sources

/** LZ4 decoder, from scratch against the two PUBLIC specs
  * (`lz4_Block_format.md`, `lz4_Frame_format.md`, lz4.github.io):
  *
  *  - **block format**: token = 4-bit literal length | 4-bit match
  *    length, 255-run length extensions, 2-byte little-endian match
  *    offset, minimum match 4; the final sequence is literals-only;
  *  - **frame format** (magic `0x184D2204`): FLG/BD descriptor with
  *    header checksum (`(xxh32 >> 8) & 0xff`), optional content size,
  *    optional dictionary id (refused by name — dict frames need the
  *    dictionary), per-block `B.Checksum` and trailing `C.Checksum`
  *    verification, block-INdependent and block-DEPENDENT (64 KiB
  *    carried history) modes, uncompressed blocks (high bit of the
  *    block size), EndMark, skippable frames (`0x184D2A50..5F`), and
  *    concatenated frames;
  *  - **legacy frame** (magic `0x184C2102`, `lz4 -l`): 8 MiB blocks,
  *    ends at EOF or at a following magic.
  *
  * Why this stays from scratch while xz, zstd, bzip2, .Z and 7z decode
  * through the classpath libraries: commons-compress's
  * `FramedLZ4CompressorInputStream` is the only classpath reader of
  * block-dependent frames, and it decodes the `DecodeBench` lz4
  * fixtures about 9x (HC frame) and 70x (block-dependent frame) slower
  * than this walk; it also ignores the dictionary-id flag instead of
  * refusing the frame. lz4-java's frame reader refuses block-dependent
  * and legacy frames, and its block decoder cannot reach into a
  * previous block. xxHash32 is lz4-java's. The fixtures the system
  * `lz4` CLI (v1.9.4) produced pin both checksum legs byte-exact
  * (`Lz4Spec`).
  *
  * Why LZ4 matters at 100 TB: it is the fast-path codec of the data
  * infrastructure the corpus transits — Hadoop/Spark shuffle, Kafka,
  * Cassandra, ClickHouse, `.tar.lz4` dump distribution. [[Archives
  * .autoEntries]] routes it by magic like gzip/zstd/bzip2/xz, keeping
  * ingest a zero-exchange per-archive flatMap.
  *
  * Reference anchor: the reference engine ingests plain parquet only
  * (`cir_duplicate_detector/utils.py` read paths); compressed-dump
  * ingest is part of this repo's 100 TB surface beyond it.
  *
  * Corruption contract: strict structure, verified checksums, every
  * refusal an exception — truncations and bit flips terminate
  * (RobustnessSpec sweep). */
object Lz4 {

  final val FrameMagic  = 0x184d2204
  final val LegacyMagic = 0x184c2102

  /** xxHash32 over `p[off, off+len)` with `seed` — lz4-java's
    * implementation (the frame format's header, block and content
    * checksums). */
  def xxh32(p: Array[Byte], off: Int, len: Int, seed: Int): Int = Xxh32.hash(p, off, len, seed)

  private val Xxh32 = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()

  // ----------------------------------------------------------- block

  /** Decode one LZ4 block `src[soff, soff+slen)` into `dst` starting
    * at `dpos`; matches may reach back into `dst[histFloor, dpos)`
    * (histFloor = 0 for block-dependent frames, = dpos-at-block-start
    * for independent ones). Returns the new dst position. */
  def decodeBlock(src: Array[Byte], soff: Int, slen: Int,
                  dst: Array[Byte], dpos0: Int, histFloor: Int): Int = {
    var s = soff
    val send = soff + slen
    var d = dpos0
    require(send <= src.length, "lz4: block overruns input")
    while (s < send) {
      val token = src(s) & 0xff
      s += 1
      // literals
      var litLen = token >>> 4
      if (litLen == 15) {
        var b = 255
        while (b == 255) {
          require(s < send, "lz4: truncated literal length")
          b = src(s) & 0xff; s += 1
          litLen += b
          require(litLen >= 0, "lz4: literal length overflow")
        }
      }
      require(s + litLen <= send, "lz4: literals overrun block")
      require(d + litLen <= dst.length, "lz4: literals overrun output")
      System.arraycopy(src, s, dst, d, litLen)
      s += litLen; d += litLen
      if (s < send) { // a match follows (last sequence is literals-only)
        require(s + 2 <= send, "lz4: truncated match offset")
        val offset = (src(s) & 0xff) | ((src(s + 1) & 0xff) << 8)
        s += 2
        require(offset > 0, "lz4: zero match offset")
        var matchLen = (token & 0x0f) + 4
        if ((token & 0x0f) == 15) {
          var b = 255
          while (b == 255) {
            require(s < send, "lz4: truncated match length")
            b = src(s) & 0xff; s += 1
            matchLen += b
            require(matchLen >= 4, "lz4: match length overflow")
          }
        }
        val m = d - offset
        require(m >= histFloor, s"lz4: match offset $offset reaches before history floor")
        require(d + matchLen <= dst.length, "lz4: match overruns output")
        // overlapping copy: replicate the period with doubling
        // arraycopy rounds (each round's source range is fully
        // materialized before it is read — never a true overlap)
        if (offset >= matchLen) System.arraycopy(dst, m, dst, d, matchLen)
        else {
          var copied = 0
          var avail = offset
          while (copied < matchLen) {
            val n = math.min(avail, matchLen - copied)
            System.arraycopy(dst, m, dst, d + copied, n)
            copied += n
            avail += n
          }
        }
        d += matchLen
      }
    }
    d
  }

  // ----------------------------------------------------------- frame

  /** Minimal VALID frame encoder — uncompressed blocks only (the
    * spec's high-bit block-size form), 64 KiB block max, content
    * checksum on. Gate-side muxing like [[Zstd.encodeRawFrames]]: it
    * exercises the full frame walk (header checksum, block sizes,
    * EndMark, trailing xxh32) without a match searcher in the repo. */
  def encodeRawFrame(data: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    @inline def w32(v: Int): Unit = {
      o.write(v & 0xff); o.write((v >>> 8) & 0xff)
      o.write((v >>> 16) & 0xff); o.write((v >>> 24) & 0xff)
    }
    w32(FrameMagic)
    val flg = 0x40 | 0x20 | 0x04 // version 01, block-independent, content checksum
    val bd = 4 << 4              // 64 KiB block max
    o.write(flg); o.write(bd)
    val hdr = Array(flg.toByte, bd.toByte)
    o.write((xxh32(hdr, 0, 2, 0) >>> 8) & 0xff)
    var at = 0
    while (at < data.length) {
      val n = math.min(1 << 16, data.length - at)
      w32(n | 0x80000000) // uncompressed block
      o.write(data, at, n)
      at += n
    }
    w32(0) // EndMark
    w32(xxh32(data, 0, data.length, 0))
    o.toByteArray
  }

  private final val MaxOut = Int.MaxValue - 16

  /** Full decode of one-or-more concatenated frames (modern, legacy,
    * skippable), with every declared checksum verified. */
  def decompress(p: Array[Byte]): Array[Byte] = {
    @inline def le32(i: Int): Int =
      (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) | ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
    var at = 0
    var out = new Array[Byte](math.min(math.max(p.length.toLong * 4, 1 << 16), 1 << 22).toInt)
    var dpos = 0
    def ensure(extra: Long): Unit = {
      val need = dpos.toLong + extra
      require(need <= MaxOut, "lz4: output exceeds 2 GiB in-memory limit")
      if (need > out.length) {
        var cap = out.length.toLong
        while (cap < need) cap = math.min(cap * 2, MaxOut.toLong)
        out = java.util.Arrays.copyOf(out, cap.toInt)
      }
    }
    var sawFrame = false
    while (at < p.length) {
      require(at + 4 <= p.length, "lz4: truncated frame magic")
      val magic = le32(at)
      if (magic == FrameMagic) {
        sawFrame = true
        at += 4
        require(at + 2 <= p.length, "lz4: truncated frame descriptor")
        val flg = p(at) & 0xff
        val bd = p(at + 1) & 0xff
        require((flg >>> 6) == 1, s"lz4: unsupported frame version ${flg >>> 6}")
        require((flg & 0x02) == 0, "lz4: reserved FLG bit set")
        val blockIndep = (flg & 0x20) != 0
        val blockCk    = (flg & 0x10) != 0
        val hasCSize   = (flg & 0x08) != 0
        val contentCk  = (flg & 0x04) != 0
        val hasDictId  = (flg & 0x01) != 0
        require((bd & 0x8f) == 0, "lz4: reserved BD bits set")
        val bmax = (bd >>> 4) & 7
        require(bmax >= 4, s"lz4: invalid block max size code $bmax")
        val blockMax = 1 << (8 + 2 * bmax) // 4→64K 5→256K 6→1M 7→4M
        var h = at + 2
        var declaredSize = -1L
        if (hasCSize) { // little-endian u64
          require(h + 8 <= p.length, "lz4: truncated content size")
          declaredSize = (0 until 8).map(i => (p(h + i) & 0xffL) << (8 * i)).sum
          h += 8
        }
        if (hasDictId) {
          require(h + 4 <= p.length, "lz4: truncated dictionary id")
          val did = le32(h)
          throw new IllegalArgumentException(
            f"lz4: dictionary frame (dict id 0x$did%08x) refused — external dictionary required")
        }
        require(h < p.length, "lz4: truncated header checksum")
        val hc = p(h) & 0xff
        val expect = (xxh32(p, at, h - at, 0) >>> 8) & 0xff
        require(hc == expect, f"lz4: header checksum mismatch (got 0x$hc%02x want 0x$expect%02x)")
        at = h + 1
        val frameStart = dpos
        var endMark = false
        while (!endMark) {
          require(at + 4 <= p.length, "lz4: truncated block size")
          val bsRaw = le32(at); at += 4
          if (bsRaw == 0) endMark = true
          else {
            val uncompressed = (bsRaw & 0x80000000) != 0
            val bs = bsRaw & 0x7fffffff
            require(bs <= blockMax, s"lz4: block size $bs exceeds declared max $blockMax")
            require(at + bs <= p.length, "lz4: truncated block data")
            if (blockCk) {
              require(at + bs + 4 <= p.length, "lz4: truncated block checksum")
              val got = le32(at + bs)
              val want = xxh32(p, at, bs, 0)
              require(got == want, "lz4: block checksum mismatch")
            }
            if (uncompressed) {
              ensure(bs)
              System.arraycopy(p, at, out, dpos, bs)
              dpos += bs
            } else {
              ensure(blockMax.toLong)
              val floor = if (blockIndep) dpos else frameStart
              dpos = decodeBlock(p, at, bs, out, dpos, floor)
            }
            at += bs + (if (blockCk) 4 else 0)
          }
        }
        if (contentCk) {
          require(at + 4 <= p.length, "lz4: truncated content checksum")
          val got = le32(at); at += 4
          val want = xxh32(out, frameStart, dpos - frameStart, 0)
          require(got == want, "lz4: content checksum mismatch")
        }
        if (declaredSize >= 0)
          require(dpos - frameStart == declaredSize,
            s"lz4: content size mismatch (decoded ${dpos - frameStart}, declared $declaredSize)")
      } else if (magic == LegacyMagic) {
        sawFrame = true
        at += 4
        // legacy blocks: 4-byte LE compressed size, each decodes to ≤ 8 MiB;
        // the frame ends at EOF or at the next frame magic.
        var more = true
        while (more && at < p.length) {
          require(at + 4 <= p.length, "lz4: truncated legacy block size")
          val bs = le32(at)
          if (bs == FrameMagic || bs == LegacyMagic || (bs >= 0x184d2a50 && bs <= 0x184d2a5f))
            more = false // next frame's magic, not a block size
          else {
            at += 4
            require(bs > 0 && at.toLong + bs <= p.length, "lz4: truncated legacy block data")
            ensure(8 << 20)
            dpos = decodeBlock(p, at, bs, out, dpos, dpos)
            at += bs
          }
        }
      } else if ((magic & 0xfffffff0) == 0x184d2a50) { // skippable
        at += 4
        require(at + 4 <= p.length, "lz4: truncated skippable frame size")
        val sz = le32(at); at += 4
        require(sz >= 0 && at.toLong + sz <= p.length, "lz4: truncated skippable frame")
        at += sz
      } else {
        throw new IllegalArgumentException(f"lz4: unknown frame magic 0x$magic%08x")
      }
    }
    require(sawFrame, "lz4: no frame found")
    java.util.Arrays.copyOfRange(out, 0, dpos)
  }
}
