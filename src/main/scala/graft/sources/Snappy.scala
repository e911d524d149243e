package graft.sources

/** Snappy decoder — pure JVM, from scratch against the two PUBLIC
  * format documents in google/snappy (`format_description.txt`,
  * `framing_format.txt`) plus Hadoop's block-stream layout
  * (`BlockCompressorStream` writes `[BE32 rawLen][BE32 chunkLen +
  * chunk]*` — public Hadoop source):
  *
  *  - **raw block format**: varint32 uncompressed length, then
  *    literal elements (tag & 3 == 0, 1/2/3/4-byte lengths) and
  *    copies with 1-byte (len 4–11, 11-bit offset), 2-byte and
  *    4-byte little-endian offsets; overlap copies run forward;
  *  - **framed format** (stream identifier `0xff` + "sNaPpY"):
  *    compressed (0x00) and uncompressed (0x01) chunks each guarded
  *    by a MASKED CRC32C of the uncompressed bytes (mask =
  *    `rotr15(crc) + 0xa282ead8`), padding (0xfe) and skippable
  *    (0x80–0xfd) chunks skipped, unskippable reserved (0x02–0x7f)
  *    refused, 65536-byte max uncompressed chunk enforced;
  *  - **Hadoop block stream**: the shape Hadoop's SnappyCodec writes
  *    inside SequenceFiles / `.snappy` part files.
  *
  * Validated byte-exact against snappy-java (the library Spark itself
  * ships for parquet) in `SnappySpec` — raw `Snappy.compress` output
  * and `SnappyFramedOutputStream` streams both decode to the source
  * payloads; the `snappy_decode` gate repeats that golden check at
  * query runtime.
  *
  * Why this stays from scratch while the other wrappers moved to the
  * classpath libraries: snappy-java's native decoder reports every
  * corrupt block as `FAILED_TO_UNCOMPRESS(5)`, so the copy-offset
  * refusal `SnappySpec` pins could not be named; the framed readers of
  * snappy-java and commons-compress report a chunk CRC32C mismatch as
  * a generic checksum failure; and commons-compress, which does name
  * the bad offset, decodes the `DecodeBench` raw block about 5x slower
  * than this decoder.
  *
  * Why snappy at 100 TB: it is THE default codec of the Hadoop world —
  * parquet pages, SequenceFiles, Kafka topics — so corpus dumps
  * arrive `.snappy`-framed routinely. [[Archives.autoEntries]] routes
  * the framed format by magic; raw and Hadoop-block layouts have no
  * magic and are exposed as explicit decode paths.
  *
  * Reference anchor: the reference engine ingests plain parquet only
  * (`cir_duplicate_detector/utils.py` read paths); compressed-dump
  * ingest is this repo's 100 TB surface beyond it.
  *
  * Corruption contract (same as [[Lz4]]):
  * strict structure, verified checksums, every refusal an exception —
  * truncations and bit flips terminate (RobustnessSpec sweep). */
object Snappy {

  /** Framed-format stream identifier: 0xff chunk, length 6, "sNaPpY". */
  final val FramedMagic: Array[Byte] =
    Array(0xff, 0x06, 0x00, 0x00, 's', 'N', 'a', 'P', 'p', 'Y').map(_.toByte)

  def isFramed(p: Array[Byte]): Boolean =
    p.length >= 10 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(p, 10), FramedMagic)

  // ------------------------------------------------------------- raw

  /** Decode one raw snappy block `src[soff, soff+slen)`. */
  def decodeRaw(src: Array[Byte], soff: Int, slen: Int): Array[Byte] = {
    require(soff >= 0 && slen >= 0 && soff + slen <= src.length, "snappy: bad range")
    var s = soff
    val send = soff + slen
    // varint32 uncompressed length
    var rawLen = 0
    var shift = 0
    var more = true
    while (more) {
      require(s < send, "snappy: truncated length varint")
      require(shift <= 28, "snappy: length varint too long")
      val b = src(s) & 0xff; s += 1
      rawLen |= (b & 0x7f) << shift
      shift += 7
      more = (b & 0x80) != 0
    }
    require(rawLen >= 0, "snappy: negative uncompressed length")
    // structural expansion cap (a copy2 element is 3 bytes for ≤ 64 out,
    // the format's densest element) — bounds allocation on corrupt input
    require(rawLen.toLong <= slen.toLong * 24 + 64,
      s"snappy: declared length $rawLen implausible for $slen input bytes")
    val dst = new Array[Byte](rawLen)
    var d = 0
    while (s < send) {
      val tag = src(s) & 0xff
      s += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            val n = len - 60 // 1..4 length bytes, little-endian
            require(s + n <= send, "snappy: truncated literal length")
            var v = 0
            var i = 0
            while (i < n) { v |= (src(s + i) & 0xff) << (8 * i); i += 1 }
            s += n
            require(v >= 0 && v < Int.MaxValue, "snappy: literal length overflow")
            len = v + 1
          }
          require(s + len <= send, "snappy: literal overruns input")
          require(d + len <= rawLen, "snappy: literal overruns output")
          System.arraycopy(src, s, dst, d, len)
          s += len; d += len
        case c =>
          var len = 0
          var offset = 0
          if (c == 1) {
            require(s < send, "snappy: truncated copy1")
            len = ((tag >>> 2) & 7) + 4
            offset = ((tag >>> 5) << 8) | (src(s) & 0xff)
            s += 1
          } else if (c == 2) {
            require(s + 2 <= send, "snappy: truncated copy2")
            len = (tag >>> 2) + 1
            offset = (src(s) & 0xff) | ((src(s + 1) & 0xff) << 8)
            s += 2
          } else {
            require(s + 4 <= send, "snappy: truncated copy4")
            len = (tag >>> 2) + 1
            offset = (src(s) & 0xff) | ((src(s + 1) & 0xff) << 8) |
              ((src(s + 2) & 0xff) << 16) | ((src(s + 3) & 0xff) << 24)
            s += 4
            require(offset >= 0, "snappy: copy4 offset overflow")
          }
          require(offset > 0 && offset <= d, s"snappy: copy offset $offset outside output (at $d)")
          require(d + len <= rawLen, "snappy: copy overruns output")
          val m = d - offset
          if (offset >= len) System.arraycopy(dst, m, dst, d, len)
          else {
            var k = 0
            while (k < len) { dst(d + k) = dst(m + k); k += 1 }
          }
          d += len
      }
    }
    require(d == rawLen, s"snappy: decoded $d bytes, declared $rawLen")
    dst
  }

  /** Raw block over the whole array. */
  def decodeRaw(p: Array[Byte]): Array[Byte] = decodeRaw(p, 0, p.length)

  /** Minimal VALID raw encoder — one varint length + literal runs (no
    * match search). Gate-side muxing like [[Lz4.encodeRawFrame]]. */
  def encodeRawLiteral(data: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(data.length + 8)
    var v = data.length
    while ((v & ~0x7f) != 0) { o.write((v & 0x7f) | 0x80); v >>>= 7 }
    o.write(v)
    var at = 0
    while (at < data.length) {
      val n = math.min(data.length - at, 1 << 16)
      if (n <= 60) o.write((n - 1) << 2)
      else if (n <= 256) { o.write(60 << 2 | 0); o.write(n - 1) } // 61 = 1 length byte
      else { o.write(61 << 2); o.write((n - 1) & 0xff); o.write(((n - 1) >>> 8) & 0xff) }
      o.write(data, at, n)
      at += n
    }
    o.toByteArray
  }

  // ---------------------------------------------------------- framed

  private def maskedCrc32c(p: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(p, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  private final val MaxChunk = 65536

  /** Decode a framing-format stream: every data chunk's masked CRC32C
    * verified, padding/skippable chunks skipped, reserved unskippable
    * types refused. */
  def decompressFramed(p: Array[Byte]): Array[Byte] = {
    require(isFramed(p), "snappy: missing framed stream identifier")
    val o = new java.io.ByteArrayOutputStream(math.min(math.max(p.length * 3, 1 << 12), 1 << 24))
    var at = 10
    while (at < p.length) {
      require(at + 4 <= p.length, "snappy: truncated chunk header")
      val ty = p(at) & 0xff
      val len = (p(at + 1) & 0xff) | ((p(at + 2) & 0xff) << 8) | ((p(at + 3) & 0xff) << 16)
      at += 4
      require(at + len <= p.length, "snappy: truncated chunk")
      ty match {
        case 0x00 => // compressed data: masked crc32c + snappy block
          require(len >= 4, "snappy: compressed chunk too short")
          val want = (p(at) & 0xff) | ((p(at + 1) & 0xff) << 8) |
            ((p(at + 2) & 0xff) << 16) | ((p(at + 3) & 0xff) << 24)
          val d = decodeRaw(p, at + 4, len - 4)
          require(d.length <= MaxChunk, "snappy: chunk exceeds 65536-byte limit")
          require(maskedCrc32c(d, 0, d.length) == want, "snappy: chunk crc32c mismatch")
          o.write(d, 0, d.length)
        case 0x01 => // uncompressed data: masked crc32c + raw bytes
          require(len >= 4, "snappy: uncompressed chunk too short")
          val want = (p(at) & 0xff) | ((p(at + 1) & 0xff) << 8) |
            ((p(at + 2) & 0xff) << 16) | ((p(at + 3) & 0xff) << 24)
          require(len - 4 <= MaxChunk, "snappy: chunk exceeds 65536-byte limit")
          require(maskedCrc32c(p, at + 4, len - 4) == want, "snappy: chunk crc32c mismatch")
          o.write(p, at + 4, len - 4)
        case 0xff => // repeated stream identifier (concatenation)
          require(len == 6, "snappy: bad stream identifier length")
          require((0 until 6).forall(i => p(at + i) == FramedMagic(4 + i)),
            "snappy: bad stream identifier payload")
        case 0xfe => () // padding
        case t if t >= 0x80 => () // reserved skippable
        case t =>
          throw new IllegalArgumentException(
            f"snappy: reserved unskippable chunk type 0x$t%02x")
      }
      at += len
    }
    o.toByteArray
  }

  /** Minimal framed encoder (uncompressed chunks + correct CRCs) —
    * runtime muxing for gates; our own decoder and snappy-java both
    * read it. */
  def encodeFramed(data: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(data.length + 64)
    o.write(FramedMagic, 0, FramedMagic.length)
    var at = 0
    while (at < data.length) {
      val n = math.min(MaxChunk, data.length - at)
      val crc = maskedCrc32c(data, at, n)
      o.write(0x01)
      val len = n + 4
      o.write(len & 0xff); o.write((len >>> 8) & 0xff); o.write((len >>> 16) & 0xff)
      o.write(crc & 0xff); o.write((crc >>> 8) & 0xff)
      o.write((crc >>> 16) & 0xff); o.write((crc >>> 24) & 0xff)
      o.write(data, at, n)
      at += n
    }
    o.toByteArray
  }

  // ---------------------------------------------------------- hadoop

  /** Decode a Hadoop block-compressed snappy stream:
    * `[BE32 rawLen][BE32 chunkLen + raw-snappy chunk]*` repeated —
    * the layout Hadoop's SnappyCodec writes in SequenceFiles and
    * `.snappy` part files. */
  def decodeHadoop(p: Array[Byte]): Array[Byte] = {
    @inline def be32(i: Int): Int =
      ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) | ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
    val o = new java.io.ByteArrayOutputStream(math.min(math.max(p.length * 3, 1 << 12), 1 << 24))
    var at = 0
    while (at < p.length) {
      require(at + 4 <= p.length, "snappy: truncated hadoop block length")
      val rawLen = be32(at); at += 4
      require(rawLen >= 0, "snappy: negative hadoop block length")
      var got = 0
      while (got < rawLen) {
        require(at + 4 <= p.length, "snappy: truncated hadoop chunk length")
        val clen = be32(at); at += 4
        require(clen > 0 && at + clen <= p.length, "snappy: truncated hadoop chunk")
        val d = decodeRaw(p, at, clen)
        at += clen
        got += d.length
        require(got <= rawLen, "snappy: hadoop chunk overruns declared block length")
        o.write(d, 0, d.length)
      }
    }
    o.toByteArray
  }
}
