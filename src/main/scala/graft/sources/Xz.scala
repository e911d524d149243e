package graft.sources

import org.tukaani.xz.{BasicArrayCache, LZMAInputStream, XZInputStream}

/** xz and `.lzma` ("alone") decoding — release tarballs, kernel
  * sources and many institutional dumps are `.tar.xz`.
  *
  * Decoded by xz-java 1.10 (on the Spark classpath): the xz container
  * with all three check types verified (CRC32, CRC64, SHA-256),
  * multi-block and multi-stream input with stream padding, and every
  * filter chain the format defines (delta and the x86 / ARM /
  * ARM-Thumb / ARM64 / PowerPC / SPARC / IA-64 / RISC-V branch
  * converters before LZMA2). The wrapper adds what the library lacks:
  * the [[MaxOutput]] cap on decoded bytes, a dictionary limit
  * ([[MaxWindow]]: the header is refused before the dictionary is
  * allocated), the declared-size check of the alone header, refusals
  * as `IllegalArgumentException`, and for xz streams xz-java's array
  * cache: without it every decode allocates the whole dictionary
  * (64 MiB for an `xz -9` stream, even for one byte of output). Alone
  * streams use no cache: a declared size already shrinks their
  * dictionary to the output, and xz-java 1.10's `LZMAInputStream`
  * misdecodes a reused dictionary array. `XzSpec` pins
  * byte-exact output against system-xz compressions
  * (`tools/gen_xz_fixtures.py`). */
object Xz {

  /** Hard cap on total decompressed output — corrupt-header safety. */
  val MaxOutput: Int = 1 << 30

  /** Largest dictionary decoded. xz-java allocates the whole declared
    * dictionary before it decodes a byte, so this bounds what a tiny
    * crafted header can make one decode allocate. It is four times the
    * largest preset dictionary of xz and 7-Zip (64 MiB, level 9); a
    * stream written with a larger custom dictionary refuses. */
  val MaxWindow: Int = 256 << 20

  /** xz-java memory limit in KiB: a [[MaxWindow]] dictionary plus the
    * coder state. */
  private[sources] val MemoryLimitKiB = (MaxWindow >> 10) + 1024

  def decompress(p: Array[Byte]): Array[Byte] =
    Streams.drain("xz", MaxOutput)(
      new XZInputStream(new java.io.ByteArrayInputStream(p), MemoryLimitKiB, BasicArrayCache.getInstance()))

  /** The `.lzma` "alone" format (13-byte header: props, dict size,
    * 64-bit uncompressed size with all-ones meaning unknown →
    * end-marker termination). No magic bytes exist for this format,
    * so routing is explicit, never sniffed. */
  def decompressAlone(p: Array[Byte]): Array[Byte] = {
    require(p.length >= 13, "lzma: truncated alone header")
    var size = 0L
    var i = 0
    while (i < 8) { size |= (p(5 + i) & 0xffL) << (8 * i); i += 1 }
    require(size == -1L || (size >= 0 && size <= MaxOutput),
      s"lzma: declared size ${java.lang.Long.toUnsignedString(size)} > cap")
    Streams.drain("lzma", MaxOutput)(
      new LZMAInputStream(new java.io.ByteArrayInputStream(p), MemoryLimitKiB))
  }
}
